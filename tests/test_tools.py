"""Every script under tools/ imports cleanly: a rename of a package name
a tool uses at module level fails here rather than at the tool's next
run. Importing runs no tool — each keeps its work under a __main__
guard or in functions."""

from __future__ import annotations

import importlib.util
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize(
    "name", sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))
)
def test_tool_imports(name):
    spec = importlib.util.spec_from_file_location(
        f"tools_{name[:-3]}", os.path.join(TOOLS, name)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

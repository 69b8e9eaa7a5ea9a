#!/usr/bin/env python
"""One-command validation: pytest suite, driver-contract drive at sf0.01,
bench at sf0.1. Exit nonzero on any failure. Run from anywhere."""
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# sys.executable, not bare "python": the launching interpreter is the one
# with pyspark/duckdb on it, and "python" may not exist on PATH at all
# (python3-only boxes) or may resolve outside the venv
PY = sys.executable
STEPS = [
    ([PY, "-m", "pytest", "tests/", "-q"], REPO),
    ([PY, os.path.join(REPO, "tests", "drive_entry.py")], "/tmp"),
    ([PY, os.path.join(REPO, "bench.py")], "/tmp"),
]


def main() -> None:
    for cmd, cwd in STEPS:
        print(f"==> {' '.join(cmd)} (cwd={cwd})", flush=True)
        r = subprocess.run(cmd, cwd=cwd)
        if r.returncode != 0:
            sys.exit(r.returncode)
    print("ALL VALIDATION PASSED")


if __name__ == "__main__":
    main()

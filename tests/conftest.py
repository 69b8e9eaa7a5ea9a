from __future__ import annotations

import os

import pytest

from mapreduce_framework_simple_spark.session import get_session

# overridable for checkouts where the driver-generated fixtures live
# elsewhere; the guard turns a missing corpus into ONE clear failure
# instead of hundreds of opaque AnalysisExceptions inside load_table
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _require_corpus() -> None:
    # fixture-scoped, NOT a module-level pytest.exit: the corpus-free
    # tests (hypothesis chunking, harness guards, builder validation,
    # synthetic-frame tests) must stay runnable — and --collect-only
    # must work — on a checkout with no testdata at all
    if not os.path.isdir(SF_DIR):
        pytest.fail(
            f"test fixture corpus not found at {SF_DIR}; generate the "
            "testdata or point SPARK_GRAFT_TEST_SF_DIR at an sf directory",
            pytrace=False,
        )


@pytest.fixture(scope="session")
def spark():
    s = get_session("mfss-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    _require_corpus()
    return SF_DIR

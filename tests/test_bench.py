"""bench.py's query sweep, run end to end in a subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def test_bench_sweeps_queries_through_noop_sink(sf_dir, tmp_path):
    """Two queries on ``local[2]``: one JSON line with a positive noop
    time and positive job counts (in total and before the action) for
    exactly those queries, a finalized AQE plan for each, and an
    argparse error for a name the registry does not know."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g")
    names = ["q01_pricing_summary", "q108_bloom_decontaminate"]
    out = subprocess.run(
        [sys.executable, BENCH, "--runs", "1", "--plans", str(tmp_path), *names],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["sink"] == "noop" and got["cpus"] == 2
    assert sorted(got["queries"]) == names
    assert all(t > 0 for t in got["queries"].values())
    for field in ("jobs", "jobs_before_action"):
        assert sorted(got[field]) == names
        assert got[field]["q01_pricing_summary"] > 0
    assert all(got["jobs"][n] >= got["jobs_before_action"][n] for n in names)
    for name in names:
        assert "isFinalPlan=true" in (tmp_path / f"{name}.txt").read_text()

    bad = subprocess.run([sys.executable, BENCH, "q999_no_such_query"],
                         env=env, capture_output=True, text=True, timeout=120)
    assert bad.returncode != 0
    assert "unknown queries: q999_no_such_query" in bad.stderr

#!/usr/bin/env python
"""Cold-for-cold head-to-head of q36's two Jaccard kernels (naive sid
self-join vs PPJoin-style prefix filter) across duplication regimes —
the measurement JACCARD_FANOUT_DISPATCH is derived from.

Round 8 proved the round-5 crossover figures warm-vs-cold biased (the
old probe timed a warm 1x leg against a cold Nx leg; q36's own 10x
ratio corrected 31.9 -> 8.4), so the dispatch threshold they implied
needed re-deriving under the honest discipline. That discipline here:

* BOTH kernels, at EVERY regime, run from the same state — an untimed
  warm-up pass first (whole-stage codegen + parquet footers + Python
  workers for exactly the measured plan shapes, and it equalizes the OS
  page cache), then timed runs with scoped caches AND the Spark cache
  manager cleared before each, so every timed run re-executes the full
  pipeline including the shingle build. min of `--runs` (default 2).
* the regimes are documents-only offset replicas (tools/replica.py —
  every doc gains n-1 exact copies, the dup-heavy shape that drives
  fan-out up), so naive and prefix read the SAME bytes per regime.

Prints one JSON line per regime:
  {"factor": n, "fanout": f, "naive_s": a, "prefix_s": b}
and a final summary line with the measured crossover bracket.

Usage: python tools/jaccard_crossover.py [factors...]   (default 1 4 10)
       SPARK_GRAFT_SF_DIR picks the base corpus (default sf0.1).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from replica import ensure_replica, replicate_table

    from mapreduce_framework_simple_spark import ephemeral
    from mapreduce_framework_simple_spark.operators import dedup as D
    from mapreduce_framework_simple_spark.session import get_session
    from mapreduce_framework_simple_spark.sources.io import DEFAULT_SF_DIR, load_table

    ap = argparse.ArgumentParser(
        description="measure the naive-vs-prefix jaccard kernel crossover"
    )
    ap.add_argument("factors", type=int, nargs="*", default=[1, 4, 10],
                    help="replication factors to probe (default: 1 4 10)")
    factors = ap.parse_args().factors
    runs = int(os.environ.get("SPARK_GRAFT_CROSSOVER_RUNS", "2"))
    spark = get_session("jaccard-crossover")
    spark.sparkContext.setLogLevel("ERROR")

    def regime_dir(n: int) -> str:
        if n == 1:
            return DEFAULT_SF_DIR

        def build(dst: str) -> None:
            replicate_table(
                load_table(spark, "documents", DEFAULT_SF_DIR), "doc_id", n
            ).write.mode("overwrite").parquet(
                os.path.join(dst, "documents.parquet")
            )

        return ensure_replica(f"/tmp/mfss_jacc_x{n}", build)

    kernels = {
        "naive": lambda sh, d: D._jaccard_truth_pairs(sh),
        "prefix": D._jaccard_prefix_pairs,
    }

    def cold() -> None:
        ephemeral.release_caches()
        spark.catalog.clearCache()

    results = []
    for n in factors:
        d = regime_dir(n)

        def pipeline(kernel):
            sh = ephemeral.scoped_cache(D.shingle_id_sets(spark, d))
            return kernel(sh, d)

        # untimed warm-up of BOTH plan shapes at this regime
        for k in kernels.values():
            cold()
            pipeline(k).count()
        cold()
        fanout = round(D._jaccard_join_fanout(D.shingle_id_sets(spark, d)), 2)
        timing = {}
        for name, k in kernels.items():
            best = None
            for _ in range(runs):
                cold()
                t0 = time.perf_counter()
                pipeline(k).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timing[name] = round(best, 2)
        cold()
        row = {
            "factor": n,
            "fanout": fanout,
            "naive_s": timing["naive"],
            "prefix_s": timing["prefix"],
            "loadavg": [round(x, 2) for x in os.getloadavg()],
        }
        results.append(row)
        print(json.dumps(row), flush=True)

    # crossover bracket: the fan-out band between the largest regime
    # where naive wins and the smallest where prefix wins (None-bounded
    # when one kernel wins everywhere measured)
    naive_wins = [r["fanout"] for r in results if r["naive_s"] <= r["prefix_s"]]
    prefix_wins = [r["fanout"] for r in results if r["prefix_s"] < r["naive_s"]]
    print(json.dumps({
        "crossover_low": max(naive_wins) if naive_wins else None,
        "crossover_high": min(prefix_wins) if prefix_wins else None,
        "runs_per_point": runs,
        "aggregation": "min",
        "base": DEFAULT_SF_DIR,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

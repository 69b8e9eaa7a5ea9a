#!/usr/bin/env python
"""Optimization-round profiler (guide §1): per-query wall time with the
noop sink — timing the computation, not the sink or driver collect — and
the FINALIZED AQE physical plan captured to plans/<round>/<query>_<tag>.txt.

Unlike bench.py (the driver-comparable artifact, which times .count()),
this tool exists to (a) isolate where each query's time goes and (b)
commit the .explain("formatted") evidence the judge checks plan claims
against. Methodology mirrors bench.py otherwise: warm session, scoped
caches released + storage cleared between runs, min of N.

Per query it also reports ``codegen_compiles`` (Janino compilations) and
``jit_s`` (HotSpot JIT seconds) summed over the timed runs. The warm-up
counts rows at the smallest SF, so the first timed run may compile plan
shapes the warm-up did not; a count that grows with ``--runs`` flags a
query whose generated code is not reused from one run to the next.

Usage: python tools/opt_profile.py [--sf-dir D] [--tag before]
                                   [--out plans/r12] [--runs 3] [q ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from mapreduce_framework_simple_spark.session import DEFAULT_CPUS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--out", default=os.path.join(REPO, "plans", "r12"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", default=DEFAULT_CPUS,
                    help="local[N] thread count (default: $SPARK_GRAFT_CPUS "
                    "or '*', all cores)")
    ap.add_argument("queries", nargs="*",
                    help="query names (default: bench HEADLINE + TREND)")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error(f"--runs must be >= 1, got {args.runs}")

    from bench import HEADLINE, TREND
    from mapreduce_framework_simple_spark.ephemeral import release_caches
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan
    from mapreduce_framework_simple_spark.registry import QUERIES, load_all
    from mapreduce_framework_simple_spark.session import (codegen_counters,
                                                          get_session)

    load_all()
    names = args.queries or (HEADLINE + TREND)
    os.makedirs(args.out, exist_ok=True)

    spark = get_session("opt-profile", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up at the smallest SF: codegen compile, parquet footers,
    # Python-worker spawn — same steady-state contract as bench.py.
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        for name in names:
            try:
                QUERIES[name](spark, warm).count()
            except Exception as e:  # noqa: BLE001
                print(f"# warmup {name} failed: {e}", file=sys.stderr)
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    jit: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"opt-profile: {name}")
        best = None
        c0, j0 = codegen_counters(spark)
        for _ in range(args.runs):
            release_caches()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        c1, j1 = codegen_counters(spark)
        compiles[name], jit[name] = c1 - c0, round(j1 - j0, 3)
        # Plan capture: re-run via toPandas() so df's OWN queryExecution
        # is the executed one (finalized AQE stages + codegen ids).
        release_caches()
        spark.catalog.clearCache()
        df = fn(spark, args.sf_dir)
        df.toPandas()
        with open(os.path.join(args.out, f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(f"# {name} @ {args.sf_dir} — finalized AQE plan "
                     f"({args.tag}, noop-min-of-{args.runs} {best:.3f}s)\n")
            fh.write(formatted_plan(df))
        print(f"# {name}: {best:.3f}s (noop), {compiles[name]} compiles, "
              f"{jit[name]:.3f}s JIT", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({"sf_dir": args.sf_dir, "tag": args.tag,
                      "unit": "sec", "aggregation": f"min-of-{args.runs}",
                      "sink": "noop", "queries": timings,
                      "codegen_compiles": compiles, "jit_s": jit,
                      "total": round(sum(timings.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Query sweep: time the headline queries on this machine's cores.

Each query is warmed up once at sf0.001, then timed as the minimum of
``--runs`` noop writes at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: every core). A noop write computes
every column, where ``count()`` would let the optimizer prune UDFs, joins
and aggregates. Scoped caches and Spark's storage are cleared before every
run. ``--plans DIR`` runs each query once more through ``toPandas()`` and
writes its finalized AQE plan to ``DIR/<query>.txt``.

Prints one JSON line: the total, the per-query minima, and each query's
Janino compiles, JIT seconds and Spark jobs over its timed runs. Jobs are
counted by job group, in total and before the action (the eager probes
and guards of plan construction). A compile count that grows with
``--runs`` flags generated code that is not reused. Exits nonzero if any
query fails.

Usage: python bench.py [--runs 3] [--plans DIR] [query ...]
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

# One query per operator family, heaviest representative.
HEADLINE = [
    "q01_pricing_summary",       # scan + group agg
    "q03_top_revenue",           # 3-way join + top-k
    "q05_join_chain",            # 5-table star join
    "q13_window_topk",           # window functions
    "q22_math_funcs",            # scalar math
    "q26_case_null",             # CASE / null handling
    "q27_range_join",            # range/theta self-join
    "q30_word_count",            # text explode + agg
    "q35_dedup_exact",           # exact dedup
    "q36_ngram_jaccard",         # shingle-join near-dup
    "q38_minhash_lsh_pairs",     # MinHash-LSH
    "q40_cosine_topk",           # similarity search
    "q50_tumbling_window",       # event-time windows (batch twin)
    "q61_prime_sum",             # pandas_udf, compute-bound
    "q79_dedup_components",      # iterative label propagation
    "q82_asof_join",             # temporal as-of join
    "q105_bigram_lm",            # corpus LM scoring
    "q108_bloom_decontaminate",  # Bloom-prefiltered decontamination
    "q110_heavy_hitters",        # Misra-Gries sketch + exact verify
    "q130_png_codec_roundtrip",  # PNG encode, decode, resize
    "q131_wav_codec_features",   # WAV decode + MFCCs
    "q132_frame_extract",        # MFV1 demux + frame decode
]


def main() -> None:
    from mapreduce_framework_simple_spark.ephemeral import release_caches
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan
    from mapreduce_framework_simple_spark.registry import QUERIES, load_all
    from mapreduce_framework_simple_spark.session import (codegen_counters,
                                                          get_session)
    from mapreduce_framework_simple_spark.sources.io import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's finalized AQE plan here")
    ap.add_argument("queries", nargs="*", metavar="query",
                    help="query names (default: the headline set)")
    args = ap.parse_args()
    load_all()
    unknown = sorted(set(args.queries) - QUERIES.keys())
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    if args.runs < 1:
        ap.error(f"--runs must be >= 1, got {args.runs}")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    warm = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    warm = warm if os.path.isdir(warm) else DEFAULT_SF_DIR
    spark = get_session("mfss-bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    groups = itertools.count()

    def build(name: str, sf_dir: str):
        release_caches()
        spark.catalog.clearCache()
        return QUERIES[name](spark, sf_dir)

    def noop(name: str, sf_dir: str) -> tuple[float, str]:
        group = f"bench-{next(groups)}"
        t0 = time.perf_counter()
        sc.setJobGroup(f"{group}-build", name)
        df = build(name, sf_dir)
        sc.setJobGroup(f"{group}-action", name)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, group

    def n_jobs(group: str) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    jit: dict[str, float] = {}
    jobs: dict[str, int] = {}
    jobs_before: dict[str, int] = {}
    for name in args.queries or HEADLINE:
        noop(name, warm)
        c0, j0 = codegen_counters(spark)
        runs = [noop(name, DEFAULT_SF_DIR) for _ in range(args.runs)]
        c1, j1 = codegen_counters(spark)
        timings[name] = round(min(t for t, _ in runs), 3)
        compiles[name], jit[name] = c1 - c0, round(j1 - j0, 3)
        jobs_before[name] = sum(n_jobs(f"{g}-build") for _, g in runs)
        jobs[name] = jobs_before[name] + sum(n_jobs(f"{g}-action")
                                             for _, g in runs)
        if args.plans:
            # toPandas() executes df's own queryExecution, so the plan
            # read back is the finalized one
            df = build(name, DEFAULT_SF_DIR)
            df.toPandas()
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(formatted_plan(df))
        print(f"# {name}: {timings[name]:.3f}s, {compiles[name]} compiles, "
              f"{jit[name]:.3f}s JIT, {jobs[name]} jobs "
              f"({jobs_before[name]} before the action)", file=sys.stderr)

    print(json.dumps({
        "metric": "headline_query_wall_time_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sink": "noop",
        "aggregation": "min",
        "runs_per_query": args.runs,
        "cpus": spark.sparkContext.defaultParallelism,
        "sf_dir": DEFAULT_SF_DIR,
        "queries": timings,
        "codegen_compiles": compiles,
        "jit_s": jit,
        "jobs": jobs,
        "jobs_before_action": jobs_before,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

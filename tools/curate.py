#!/usr/bin/env python
"""Run the end-to-end curation pipeline from the command line.

Usage: python tools/curate.py [sf_dir] [out_dir]

The near-dup stage caps hot LSH buckets at ``dedup.LSH_MAX_BUCKET``.
Prints the audit report as one JSON line (same shape the pipeline test
asserts invariants over).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv: list[str] | None = None) -> None:
    from mapreduce_framework_simple_spark.sources.io import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(
        description="Run the end-to-end curation pipeline."
    )
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default=DEFAULT_SF_DIR,
        help="input table directory (default: $SPARK_GRAFT_SF_DIR)",
    )
    ap.add_argument(
        "out_dir", nargs="?", default="/tmp/mfss_curated",
        help="output directory for the curated corpus",
    )
    ns = ap.parse_args(argv)

    from mapreduce_framework_simple_spark.pipeline import curate
    from mapreduce_framework_simple_spark.session import get_session

    spark = get_session("mfss-curate")
    spark.sparkContext.setLogLevel("ERROR")
    report = curate(spark, ns.sf_dir, ns.out_dir)
    report["out_dir"] = ns.out_dir
    print(json.dumps(report))


if __name__ == "__main__":
    main()

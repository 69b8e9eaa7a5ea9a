#!/usr/bin/env python
"""Generate docs/PLANS.md: per-query physical-plan properties at the
bench SF — shuffle exchanges, broadcasts, codegen stages, scan pushdown —
the explain-driven evidence that each plan is the one we want.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from mapreduce_framework_simple_spark.sources.io import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR,
                    help="scale-factor parquet directory "
                    "(default: $SPARK_GRAFT_SF_DIR)")
    sf_dir = ap.parse_args().sf_dir
    if not os.path.isdir(sf_dir):
        ap.error(f"not a directory: {sf_dir}")
    from mapreduce_framework_simple_spark.registry import QUERIES, load_all
    from mapreduce_framework_simple_spark.session import get_session
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan

    load_all()
    spark = get_session("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf_dir)
            # toPandas() runs df's OWN queryExecution (count()/write would
            # execute a different one), finalizing AQE + codegen ids
            df.toPandas()
            plan = formatted_plan(df)
        except Exception as e:
            rows.append((name, "-", "-", "-", "-", f"ERROR {str(e)[:40]}"))
            continue
        lines = plan.splitlines()
        # counts from the operator-index lines "(N) Op"
        ops = [l.split(")", 1)[1].strip().split()[0]
               for l in lines if l.startswith("(") and ")" in l and l.split(")", 1)[1].strip()]
        # AQE final plans list each materialized stage (ShuffleQueryStage /
        # BroadcastQueryStage) plus its inner Exchange — count stages to
        # avoid double-counting; fall back to Exchange for non-AQE plans
        n_shuffle = sum(1 for o in ops if o == "ShuffleQueryStage") or sum(
            1 for o in ops if o == "Exchange"
        )
        n_bcast = sum(1 for o in ops if o == "BroadcastQueryStage") or sum(
            1 for o in ops if o == "BroadcastExchange"
        )
        n_codegen = len({l.split("codegen id :")[1].strip().rstrip("]")
                         for l in lines if "codegen id :" in l})
        pushed = any("PushedFilters: [" in l and "PushedFilters: []" not in l for l in lines)
        spark.catalog.clearCache()
        rows.append((name, n_shuffle, n_bcast, n_codegen, "yes" if pushed else "-", "ok"))

    out = os.path.join(REPO, "docs", "PLANS.md")
    with open(out, "w") as f:
        f.write("# PLANS — physical-plan properties per query (sf_dir=%s)\n\n" % sf_dir)
        f.write("Generated by tools/plan_report.py from executed AQE final plans.\n")
        f.write("Shuffles = non-broadcast Exchange nodes; lower is better and every\n")
        f.write("one present is argued in docs/SCALE.md.\n\n")
        f.write("| query | shuffles | broadcasts | codegen stages | scan pushdown | status |\n")
        f.write("|---|---|---|---|---|---|\n")
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()

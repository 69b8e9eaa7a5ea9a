#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload olap_repeat --seeds 1-10 --out a.jsonl

Runs ``run.py --trace 0`` once per seed, one run at a time, from the
repository root, appends each run's result and context to ``--out``, and
prints for every metric the median, the quartiles (``statistics.quantiles``,
n=4) and the spread: the distance between the quartiles as a share of the
median. With ``--against`` another such file, it also prints how much worse
this set's median is than that one's, as a share of that median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if not spec:
        return []
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _values(path: str, workload: str) -> dict[str, list[float]]:
    vals: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            run = json.loads(line)
            if run["workload"] == workload:
                for k, v in run["result"]["metrics"].items():
                    vals.setdefault(k, []).append(v["value"])
    return vals


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="",
                    help="first-last, e.g. 1-10; none: only summarize --out")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--against")
    args = ap.parse_args()

    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        context = json.loads(next(x for x in lines if x.startswith("# context "))[10:])
        run = {"workload": args.workload, "seed": seed,
               "result": json.loads(lines[-1]), "context": context}
        with open(args.out, "a") as f:
            f.write(json.dumps(run) + "\n")
        print(seed, {k: round(v["value"], 3) for k, v in run["result"]["metrics"].items()},
              "steal", context["cpu_steal_share"], flush=True)

    base = _values(args.against, args.workload) if args.against else {}
    for name, vals in _values(args.out, args.workload).items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        line = (f"{name}: n={len(vals)} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                f"spread={(q3 - q1) / med:.4f}")
        if name in base:
            ref = statistics.median(base[name])
            line += f" worse_than_against={(med - ref) / ref:+.4f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())

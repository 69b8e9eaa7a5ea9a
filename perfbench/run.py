#!/usr/bin/env python3
"""Benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_repeat --seed 1 --seconds 10 --trace 0

Run from the repository root. The run makes its inputs from the seed
(cached under ``.perfbench/``), sets up a session, checks every op's
output, and runs passes over the workload's ops for about ``--seconds``
seconds, at least one, in one closed loop with one client, strictly one
op at a time. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the passes alternate between
untraced and traced, and the metrics are the per-layer ones. Lines
before it, starting with ``#``, give the run context, the error rate and
the wall times; every run also writes its op records to
``.perfbench/trace/``. ``WORKLOADS.md`` describes workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
KEEP_SEEDS = 4          # generated datasets kept in the cache

# per-op figures summed per pass in the traced run
OP_FIELDS = ("build_s", "jobs_before_action", "exec_s", "jobs", "stages",
             "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_mb",
             "input_mb", "python_cpu_s", "scoped_released")
# modules whose ops a workload runs; each gets every LAYER_FIELDS metric
LAYERS = ("relational", "temporal", "windows", "udfs", "multimodal",
          "mapreduce", "dedup", "text", "similarity", "pipeline")
LAYER_FIELDS = {"build_s": "s", "jobs_before_action": "count", "exec_s": "s",
                "jobs": "count", "stages": "count", "tasks": "count",
                "executor_cpu_s": "s", "shuffle_write_mb": "MB",
                "slot_busy": "ratio", "python_cpu_s": "s"}
UNITS = {
    "setup_s": "s", "pass_cpu_s": "s",
    "session.start_s": "s", "registry.load_all_s": "s", "warmup_s": "s",
    "sources_io.load_table_s": "s", "sources_io.load_table_jobs": "count",
    "ephemeral.scoped_released": "count", "ephemeral.storage_mb_peak": "MB",
    "mapreduce.chunk_s": "s", "mapreduce.job_s": "s", "pipeline.write_mb": "MB",
    "pipeline.write_per_input_byte": "ratio", "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    **{f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()},
}


def _isolate_temp_dirs() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem")


def _prune_cache(cache: str, keep: int) -> None:
    """Drop datasets of all but the ``keep`` most recently used seeds."""
    if not os.path.isdir(cache):
        return
    by_seed: dict[str, float] = {}
    for d in os.listdir(cache):
        seed = d.rsplit("-s", 1)[-1]
        by_seed[seed] = max(by_seed.get(seed, 0.0),
                            os.path.getmtime(os.path.join(cache, d)))
    stale = sorted(by_seed, key=by_seed.get, reverse=True)[keep:]
    for d in os.listdir(cache):
        if d.rsplit("-s", 1)[-1] in stale:
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def _git_head() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"  # a plain checkout; do not report an enclosing repo
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Runs ops one at a time, releasing caches between them, and keeps
    one record per op in memory. ``cpu()`` reads the CPU seconds used so
    far by the driver, its JVM and the Python workers."""

    def __init__(self, spark, probe=None, cpu=lambda: 0.0):
        from mapreduce_framework_simple_spark import ephemeral

        self.spark, self.probe, self.cpu, self.ephemeral = spark, probe, cpu, ephemeral
        self.records: list[dict] = []

    def release(self) -> int:
        n = self.ephemeral.release_caches()
        self.spark.catalog.clearCache()
        return n

    def run_op(self, op, sf_dir: str, check: bool, pass_no: int = -1,
               traced: bool = False) -> dict:
        from probe import StorageSampler

        rec = {"op": op.name, "layer": op.layer, "pass": pass_no, "traced": traced}
        tr = self.probe if traced else None
        marks: list[float] = []
        jobs_at_mark: list[int] = []
        group = tr.begin(op.name) if tr else None

        def mark() -> None:
            marks.append(time.perf_counter())
            if tr:
                jobs_at_mark.append(len(tr.jobs(group)))

        cpu0 = self.cpu()
        py0 = tr.python_cpu_s() if tr else 0.0
        with StorageSampler(tr) if tr else contextlib.nullcontext() as sampler:
            t0 = time.perf_counter()
            try:
                result, err = op.call(sf_dir, mark), None
            except Exception as e:  # an op that raises is a failed op
                result, err = None, f"{type(e).__name__}: {e}"
            t1 = time.perf_counter()
        rec["latency_s"] = t1 - t0
        rec["build_s"] = (marks[0] - t0) if marks else rec["latency_s"]
        rec["exec_s"] = rec["latency_s"] - rec["build_s"]
        if tr:
            jobs = tr.jobs(group)
            rec["jobs_before_action"] = jobs_at_mark[0] if jobs_at_mark else len(jobs)
            rec["jobs"] = len(jobs)
            rec.update(tr.stage_totals(jobs))
            rec["python_cpu_s"] = tr.python_cpu_s() - py0
            rec["storage_mb_peak"] = sampler.peak_mb
        t2 = time.perf_counter()
        rec["scoped_released"] = self.release()
        rec["release_s"] = time.perf_counter() - t2
        rec["cpu_s"] = self.cpu() - cpu0
        if check:
            problems = [err] if err else op.check(result)
            rec["ok"] = not problems
            if problems:
                rec["problems"] = problems[:3]
                print(f"# FAILED {op.name} pass {pass_no}: {problems[:3]}",
                      file=sys.stderr)
        elif err:
            print(f"# warm-up {op.name} failed: {err}", file=sys.stderr)
        if isinstance(result, dict) and op.layer == "pipeline":
            rec["report"] = result
        self.records.append(rec)
        return rec


def run_passes(runner: Runner, wl, ops: list, seconds: float, seed: int,
               trace: bool) -> list[dict]:
    """Passes over every op, each in an order drawn from the seed, until
    another pass would overrun ``seconds``, and at least one. In a traced
    run the passes alternate untraced / traced, at least one of each."""
    order_rng = random.Random(seed)
    passes: list[dict] = []
    start = time.perf_counter()
    while True:
        n = len(passes)
        traced = trace and n % 2 == 1
        order = list(ops)
        order_rng.shuffle(order)
        sf_dir = wl.pass_dir()
        wall = cpu = 0.0
        for op in order:
            rec = runner.run_op(op, sf_dir, check=True, pass_no=n, traced=traced)
            wall += rec["latency_s"] + rec["release_s"]
            cpu += rec["cpu_s"]
        passes.append({"pass": n, "traced": traced, "pass_s": wall, "pass_cpu_s": cpu})
        elapsed = time.perf_counter() - start
        typical = _median([p["pass_s"] for p in passes])
        if len(passes) >= 1 + trace and elapsed + typical > seconds:
            return passes


def end_to_end(passes, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "pass_cpu_s": _median([p["pass_cpu_s"] for p in passes]),
    }


def per_pass(records, field: str) -> float:
    """Median over passes of the per-pass sum of ``field``; 0 without
    records."""
    sums: dict[int, float] = {}
    for r in records:
        sums[r["pass"]] = sums.get(r["pass"], 0.0) + r.get(field, 0.0)
    return _median(list(sums.values()))


def layer_metrics(records, nproc: int) -> dict[str, float]:
    """``L.<field>`` of every module ``L`` in LAYERS: per-pass sums over
    its ops, as medians over passes."""
    m: dict[str, float] = {}
    for layer in LAYERS:
        recs = [r for r in records if r["layer"] == layer]
        t = {f: per_pass(recs, f) for f in OP_FIELDS}
        t["slot_busy"] = t["executor_run_s"] / (t["exec_s"] * nproc) if t["exec_s"] else 0.0
        m.update({f"{layer}.{f}": t[f] for f in LAYER_FIELDS})
    return m


def load_table_probe(spark, probe, wl, reps: int = 3) -> tuple[float, float]:
    """Median seconds and mean jobs of one direct ``load_table`` call per
    table the workload reads, on the path a pass would read."""
    from mapreduce_framework_simple_spark.sources.io import load_table

    times, jobs = [], []
    for _ in range(reps):
        sf_dir = wl.pass_dir()
        for t in wl.tables:
            group = probe.begin(f"load_table {t}")
            t0 = time.perf_counter()
            load_table(spark, t, sf_dir)
            times.append(time.perf_counter() - t0)
            jobs.append(len(probe.jobs(group)))
    return statistics.median(times), float(statistics.mean(jobs))


def module_extras(records, wl) -> dict[str, float]:
    """Figures of single modules beyond the LAYER_FIELDS grid."""
    written = []
    for d in os.listdir(wl.scratch):
        if d.startswith("curated-"):
            p = os.path.join(wl.scratch, d)
            written.append(sum(os.path.getsize(os.path.join(p, f))
                               for f in os.listdir(p) if f[0] not in "._"))
    mr = [r for r in records if r["layer"] == "mapreduce"]
    return {
        "mapreduce.chunk_s": per_pass(mr, "build_s"),  # create_assigned_data
        "mapreduce.job_s": per_pass(mr, "exec_s"),
        "pipeline.write_mb": _median(written) / 2**20,
        "pipeline.write_per_input_byte":
            _median(written) / os.path.getsize(wl.files["documents"]),
    }


def per_layer(records, passes, setup: dict, load_table: tuple[float, float],
              rss_mb: float, nproc: int, extras: dict) -> dict[str, float]:
    traced = [r for r in records if r["traced"]]
    m = dict(setup)
    m.update(layer_metrics(traced, nproc))
    m.update(extras)
    m["sources_io.load_table_s"], m["sources_io.load_table_jobs"] = load_table
    m["ephemeral.scoped_released"] = per_pass(traced, "scoped_released")
    m["ephemeral.storage_mb_peak"] = max((r["storage_mb_peak"] for r in traced), default=0.0)
    m["peak_rss_mb"] = rss_mb
    m["trace.overhead_s"] = (
        _median([p["pass_s"] for p in passes if p["traced"]])
        - _median([p["pass_s"] for p in passes if not p["traced"]]))
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for each to exit."""
    from probe import children

    proc = spark.sparkContext._gateway.proc
    workers = children(proc.pid)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_temp_dirs()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from workloads import WORKLOADS

    from mapreduce_framework_simple_spark.session import get_session

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "nproc": os.cpu_count() or 1, "loadavg_start": os.getloadavg(),
               "git_head": _git_head()}

    cache = os.path.join(WORK, "data")
    scratch = os.path.join(WORK, "run", str(os.getpid()))
    os.makedirs(scratch)
    wl = WORKLOADS[args.workload](args.seed, cache, scratch)
    wl.prepare()
    _prune_cache(cache, KEEP_SEEDS)

    t0 = time.perf_counter()
    spark = get_session()
    try:
        metrics, records, passes = measure(spark, args, wl, context, t0)
    finally:
        stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    context["loadavg_end"] = os.getloadavg()
    context["passes"] = [{k: round(v, 3) for k, v in p.items() if k.startswith("pass_")}
                         for p in passes]
    context["op_samples"] = len(records)
    print("# context " + json.dumps(context))
    out = result(records, metrics)
    print(f"# error_rate {out['failed'] / out['attempted']:.6f} "
          f"({out['failed']}/{out['attempted']})")
    print(json.dumps(out))
    return 0


def measure(spark, args, wl, context: dict, t0: float):
    """Set up, run the passes and compute the metrics of one run."""
    from mapreduce_framework_simple_spark import registry
    from probe import SparkProbe, host_cpu, hwm_mb, process_cpu_s, tree_cpu_s

    nproc = context["nproc"]
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    ops = wl.ops(spark)  # DuckDB oracles: preparation, untimed
    context["oracle_s"] = round(time.perf_counter() - t2, 3)
    # set-up warm-up: every op once on the sf 0.001 tables (codegen,
    # Python worker spawn)
    t3 = time.perf_counter()
    jvm = spark.sparkContext._gateway.proc.pid
    runner = Runner(spark, SparkProbe(spark) if args.trace else None,
                    lambda: process_cpu_s("self") + process_cpu_s(jvm) + tree_cpu_s(jvm))
    for op in ops:
        runner.run_op(op, wl.warm_dir, check=False)
    t4 = time.perf_counter()
    context["warmup_op_s"] = {r["op"]: round(r["latency_s"], 3) for r in runner.records}
    runner.records.clear()
    setup = {"session.start_s": t1 - t0, "registry.load_all_s": t2 - t1,
             "warmup_s": t4 - t3}
    context["setup"] = {k: round(v, 3) for k, v in setup.items()}
    context["spark_version"] = spark.version
    context["master"] = spark.sparkContext.master

    steal0, total0 = host_cpu()
    passes = run_passes(runner, wl, ops, args.seconds, args.seed, bool(args.trace))
    steal1, total1 = host_cpu()
    context["cpu_steal_share"] = round((steal1 - steal0) / max(total1 - total0, 1), 4)
    records = runner.records
    curate_s = [r["latency_s"] for r in records if r["layer"] == "pipeline"]
    if curate_s:
        print(f"# curate_docs_per_s {wl.n_docs / statistics.median(curate_s):.4f}")
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-trace{args.trace}.jsonl"
    with open(os.path.join(WORK, "trace", name), "w") as f:
        f.write(json.dumps({"context": context, "passes": passes}) + "\n")
        for r in records:
            f.write(json.dumps(r) + "\n")
    # wall times: moved by the host's CPU steal too much for a bound; a
    # few ops per pass, too few samples for a percentile above the median
    print(f"# pass_s {_median([p['pass_s'] for p in passes]):.4f} "
          f"(cpu_steal_share {context['cpu_steal_share']})")
    print(f"# op_p50_s {statistics.median(r['latency_s'] for r in records):.4f} "
          f"from {len(records)} op samples")
    if not args.trace:
        return end_to_end(passes, sum(setup.values())), records, passes
    # VmHWM of the driver plus its JVM, read before the load_table probe
    rss = hwm_mb() + hwm_mb(jvm)
    metrics = per_layer(records, passes, setup,
                        load_table_probe(spark, runner.probe, wl), rss, nproc,
                        module_extras([r for r in records if r["traced"]], wl))
    return metrics, records, passes


def result(records, metrics: dict[str, float]) -> dict:
    """The run's last output line: every op counts as attempted, and an
    op fails when it raised or its output check found a problem."""
    failed = sum(not r["ok"] for r in records)
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())

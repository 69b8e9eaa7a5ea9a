"""Instrumentation for the traced run.

Everything here reads state the engine already exposes, from outside it:

* Spark jobs and stages of one op, through a job group per op and the
  status store (both work with the Spark UI off);
* CPU of the ``pyspark.daemon`` process tree (the Python workers), read
  from ``/proc`` — the JVM's executor CPU time does not include it;
* cached storage, sampled on a background thread while an op runs;
* CPU of the driver, its JVM and the Python workers together, and the
  share of the machine's CPU stolen by the hypervisor;
* resident-set high-water marks of the driver and its JVM.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def children(root: int) -> list[int]:
    """Every live descendant of ``root``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root``'s descendants, including
    children they have already reaped (a finished worker's CPU moves into
    its parent's cutime/cstime, so it is never lost or counted twice)."""
    total = 0
    for pid in children(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def process_cpu_s(pid: int | str) -> float:
    """User+system CPU seconds of ``pid`` itself."""
    st = _stat(pid)
    return sum(int(x) for x in st[11:13]) / _TICK if st else 0.0


def host_cpu() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot: the share
    stolen by the hypervisor tells how contended a run's host was."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def hwm_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of ``pid`` in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class SparkProbe:
    """Per-op Spark metrics from a job group and the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.jvm_pid = self.sc._gateway.proc.pid
        self._n = 0

    def begin(self, label: str) -> str:
        group = f"perfbench-{self._n}"
        self._n += 1
        self.sc.setJobGroup(group, label)
        return group

    def jobs(self, group: str) -> list[int]:
        self.jsc.listenerBus().waitUntilEmpty()
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Summed stage metrics of ``job_ids``; skipped stages (shuffle
        output reused from an earlier job) were never attempted and add
        nothing."""
        self.jsc.listenerBus().waitUntilEmpty()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = {"stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0, "input_mb": 0.0}
        store = self.jsc.statusStore()
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # py4j error: stage skipped, never attempted
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numTasks()
            tot["executor_run_s"] += sd.executorRunTime() / 1e3
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            tot["input_mb"] += sd.inputBytes() / 2**20
        return tot

    def python_cpu_s(self) -> float:
        return tree_cpu_s(self.jvm_pid)

    def storage_mb(self) -> float:
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class StorageSampler:
    """Polls cached storage on a thread; ``peak_mb`` is the highest value
    seen between start and stop."""

    def __init__(self, probe: SparkProbe, interval_s: float = 0.1):
        self.probe, self.interval_s = probe, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, self.probe.storage_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> StorageSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

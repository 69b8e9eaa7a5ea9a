"""Parity tests for the map_reduce API — the reference's own test suite
(t/00_compile.t, t/01_basic.t) plus its POD showcase workloads, ported per
SURVEY.md §5.
"""

from __future__ import annotations

import pytest

from mapreduce_framework_simple_spark.operators.mapreduce import (
    MapReduceEngine,
    create_assigned_data,
    map_reduce,
)


def test_module_imports():
    """≙ t/00_compile.t — the package loads."""
    import mapreduce_framework_simple_spark  # noqa: F401


def test_basic_sum_count_avg(spark):
    """≙ t/01_basic.t:8-51 — 4 chunks × 1000 × 5.5; golden values
    sum=22000, avg=5.5, num=4000."""
    data = [[5.5] * 1000 for _ in range(4)]

    def mapper(chunk):
        total = sum(chunk)
        return {"sum": total, "num": len(chunk), "avg": total / len(chunk)}

    def reducer(mapped):
        total = sum(m["sum"] for m in mapped)
        num = sum(m["num"] for m in mapped)
        return {"sum": total, "num": num, "avg": total / num}

    res = MapReduceEngine(spark).map_reduce(data, mapper, reducer, 4, pre_chunked=True)
    assert res["sum"] == 22000.0
    assert res["num"] == 4000
    assert res["avg"] == 5.5


def test_flat_data_auto_chunking(spark):
    """Flat element list → engine chunks (≙ auto-assign, Simple.pm:166-168)."""
    res = map_reduce(
        list(range(100)),
        lambda chunk: sum(chunk),
        lambda partials: sum(partials),
        max_proc=8,
        spark=spark,
    )
    assert res == sum(range(100))


def test_skip_none_filter(spark):
    """≙ skip_undef_result (Simple.pm:22,328-335): None mapper outputs are
    dropped before the reducer sees them."""
    data = [[1], [2], [3], [4]]

    def mapper(chunk):
        return None if chunk[0] % 2 == 0 else chunk[0]

    seen = []

    def reducer(mapped):
        seen.extend(mapped)
        return sum(mapped)

    res = MapReduceEngine(spark).map_reduce(data, mapper, reducer, 4, pre_chunked=True)
    assert res == 4  # 1 + 3
    assert None not in seen

    eng = MapReduceEngine(spark, skip_none=False)
    collected = eng.map_reduce(data, mapper, lambda m: m, 4, pre_chunked=True)
    assert None in collected

    # the module-level wrapper must route skip_none to the CONSTRUCTOR
    # (forwarding it to engine.map_reduce would TypeError)
    from mapreduce_framework_simple_spark.operators.mapreduce import (
        map_reduce as mr_fn,
    )

    kept = mr_fn(data, mapper, lambda m: m, 4, spark=spark,
                 skip_none=False, pre_chunked=True)
    assert None in kept
    assert mr_fn(data, mapper, sum, 4, spark=spark, pre_chunked=True) == 4


def test_word_count_showcase(spark):
    """The reference's motivating use case (Simple.pm:612): word count as
    mapper/reducer."""
    docs = ["a b a", "b c", "a"]

    def mapper(chunk):
        counts: dict[str, int] = {}
        for doc in chunk:
            for w in doc.split():
                counts[w] = counts.get(w, 0) + 1
        return counts

    def reducer(mapped):
        total: dict[str, int] = {}
        for part in mapped:
            for w, c in part.items():
                total[w] = total.get(w, 0) + c
        return total

    res = map_reduce(docs, mapper, reducer, 3, spark=spark)
    assert res == {"a": 3, "b": 2, "c": 1}


def test_prime_sum_showcase(spark):
    """The reference's POD benchmark workload (Simple.pm:836-929), small
    range; cross-checked against a plain Python loop."""

    def is_prime(n):
        if n < 2:
            return False
        d = 2
        while d * d <= n:
            if n % d == 0:
                return False
            d += 1
        return True

    lo, hi = 10_001, 11_001
    expected = sum(n for n in range(lo, hi) if is_prime(n))

    def mapper(chunk):
        return sum(n for n in chunk if is_prime(n))

    res = map_reduce(list(range(lo, hi)), mapper, sum, 8, spark=spark)
    assert res == expected


def test_objects_and_closures_in_data(spark):
    """≙ the Storable path (Simple.pm:733-751): arbitrary Python objects —
    including callables — travel through chunks (cloudpickle ≙ Storable
    with Deparse/Eval)."""

    class Acc:
        def __init__(self, v):
            self.v = v

    data = [Acc(i) for i in range(10)]

    def mapper(chunk):
        return sum(x.v * 2 for x in chunk)

    assert map_reduce(data, mapper, sum, 4, spark=spark) == 2 * sum(range(10))


# --- create_assigned_data (≙ Simple.pm:34-146) ---------------------------

def test_chunking_sequential():
    chunks = create_assigned_data(list(range(10)), 3, method="element_sequential")
    assert chunks == [[0, 3, 6, 9], [1, 4, 7], [2, 5, 8]]


def test_chunking_shuffle_partitions_everything():
    chunks = create_assigned_data(list(range(100)), 7, method="element_shuffle", seed=1)
    assert sorted(x for c in chunks for x in c) == list(range(100))
    assert len(chunks) == 7


def test_chunking_volume_uniform_balances_bytes():
    """volume_uniform (Simple.pm:133-144): size-skewed elements spread so
    chunk byte totals stay balanced."""
    import pickle

    data = ["x" * (1000 if i < 8 else 1) for i in range(64)]
    chunks = create_assigned_data(data, 8, method="volume_uniform")
    sizes = [sum(len(pickle.dumps(x)) for x in c) for c in chunks]
    assert max(sizes) - min(sizes) <= 1100  # each chunk gets exactly one big element


def test_chunking_volume_uniform_sizes_like_cloudpickle():
    """Plain values are sized without cloudpickle's Pickler; the chunks
    are still exactly those that cloudpickle sizing of every element
    gives, on a mix of plain values, containers, a locally defined
    class's instance and a closure."""
    from pyspark import cloudpickle

    class Box:
        def __init__(self, v):
            self.v = v

    data = [0, 7, -3, 2**70, -(10**40), 1.5, float("nan"), -0.0, True, False,
            None, "", "abc", "é✓" * 50, b"", b"\x00" * 300, [1, [2, "x"]],
            [], (1.0, None), {"k": b"v"}, Box(3), lambda x: x + 1]
    n = 4
    by_cloudpickle = sorted(data, key=lambda x: len(cloudpickle.dumps(x)),
                            reverse=True)
    expected = [by_cloudpickle[i::n] for i in range(n)]
    assert create_assigned_data(data, n, method="volume_uniform") == expected


def test_chunking_rejects_bad_args():
    with pytest.raises(ValueError):
        create_assigned_data([1], 0)
    with pytest.raises(ValueError):
        create_assigned_data([1], 2, method="nope")


def test_map_reduce_iter(spark):
    eng = MapReduceEngine(spark)
    for n in (16, None):  # None: sc.defaultParallelism
        res = eng.map_reduce_iter(
            range(1000), lambda part: sum(part), sum, num_partitions=n
        )
        assert res == sum(range(1000))


def test_mapper_failure_fails_fast(spark):
    """Deliberate divergence from the reference (which silently DISCARDS
    twice-failed chunks, Simple.pm:321-327): mapper errors must surface
    as job failure — no silent data loss."""
    def bad_mapper(chunk):
        raise ValueError("boom")

    with pytest.raises(Exception, match="boom"):
        map_reduce([[1], [2]], bad_mapper, sum, 2, spark=spark, pre_chunked=True)


def test_sql_temp_views(spark, sf_dir):
    """spark.sql over the registered star-schema views (the SQL entry
    surface next to the DataFrame API)."""
    from mapreduce_framework_simple_spark.sources.io import register_temp_views

    register_temp_views(spark, sf_dir)
    row = spark.sql(
        "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).collect()[0]
    assert row["n"] > 0


def test_capacity_weighted_method_aliases():
    """Reference methods 1d-1f (Simple.pm:66-132) are accepted as no-op
    parity shims — a ported caller runs unmodified; chunking equals the
    sequential striping (capacity weighting steered worker placement,
    which Spark's scheduler owns)."""
    from mapreduce_framework_simple_spark.operators.mapreduce import (
        CAPACITY_METHOD_ALIASES,
        create_assigned_data,
    )

    data = list(range(17))
    expected = create_assigned_data(data, 4, method="element_sequential")
    for alias in CAPACITY_METHOD_ALIASES:
        assert create_assigned_data(data, 4, method=alias) == expected
    import pytest

    with pytest.raises(ValueError, match="unknown method"):
        create_assigned_data(data, 4, method="element_bogus")


def test_map_reduce_iter_never_feeds_empty_chunks(spark):
    """More partitions than elements: empty gloms must be dropped before
    the mapper (the reference's never-empty-chunk contract) — an avg
    mapper dividing by len(chunk) must not crash."""
    from mapreduce_framework_simple_spark.operators.mapreduce import MapReduceEngine

    eng = MapReduceEngine(spark)
    out = eng.map_reduce_iter(
        [1.0, 2.0, 3.0, 4.0, 5.0],
        mapper=lambda chunk: sum(chunk) / len(chunk),
        reducer=lambda xs: sorted(xs),
        num_partitions=32,
    )
    assert all(isinstance(x, float) for x in out) and len(out) <= 5


_RETRY_SCRIPT = r"""
import json, sys
sys.path.insert(0, REPO)
from pyspark import TaskContext
from mapreduce_framework_simple_spark.operators.mapreduce import MapReduceEngine
from mapreduce_framework_simple_spark.session import get_session

spark = get_session("retry-parity", master="local[2,2]", shuffle_partitions=2)
eng = MapReduceEngine(spark)
chunks = [list(range(i, i + 10)) for i in range(0, 40, 10)]


def mapper(failing_attempts):
    def run(chunk):
        from pyspark import TaskContext
        if 20 in chunk and TaskContext.get().attemptNumber() in failing_attempts:
            raise RuntimeError("injected chunk failure")
        return sum(x * x for x in chunk)
    return run


def doubler(failing_attempts):
    def run(batches):
        from pyspark import TaskContext
        ctx = TaskContext.get()
        if ctx.partitionId() == 1 and ctx.attemptNumber() in failing_attempts:
            raise RuntimeError("injected partition failure")
        for pdf in batches:
            yield pdf.assign(y=pdf["id"] * 2)
    return run


def frame(failing_attempts):
    df = spark.range(0, 400, numPartitions=4)
    out = df.mapInPandas(doubler(failing_attempts), "id long, y long")
    return sorted(tuple(r) for r in out.collect())


def fails(thunk):
    try:
        thunk()
    except Exception as e:
        return "injected" in str(e)
    return False


print(json.dumps({
    "mr_clean": eng.map_reduce(chunks, mapper(()), sorted, pre_chunked=True),
    "mr_retried": eng.map_reduce(chunks, mapper((0,)), sorted, pre_chunked=True),
    "mr_twice_fails": fails(lambda: eng.map_reduce(
        chunks, mapper((0, 1)), sorted, pre_chunked=True)),
    "mip_equal": frame(()) == frame((0,)),
    "mip_twice_fails": fails(lambda: frame((0, 1))),
}))
"""


def test_failed_chunk_is_retried_to_the_clean_result():
    """≙ the reference's failover (Simple.pm:247-315): a chunk whose
    first attempt fails is run again and the job returns exactly the
    clean result, for a ``map_reduce`` mapper and a ``mapInPandas``
    partition alike; a chunk that fails on both of its two allowed
    attempts fails the job. Runs in a subprocess on ``local[2,2]``:
    local mode reads ``spark.task.maxFailures`` only from the master
    string, and the shared test session allows no retry."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", f"REPO = {repo!r}\n" + _RETRY_SCRIPT],
        env=env, check=True, capture_output=True, text=True, timeout=600,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["mr_retried"] == got["mr_clean"]
    assert len(got["mr_clean"]) == 4
    assert got["mip_equal"], "a retried mapInPandas partition changed rows"
    assert got["mr_twice_fails"], "a chunk failing both attempts must fail"
    assert got["mip_twice_fails"], "a partition failing both attempts must fail"

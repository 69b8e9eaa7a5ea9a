"""`map_reduce` parity API — the reference's single public entry point.

Reference semantics (Simple.pm:149-339): the caller supplies an array of
elements (or pre-chunked data), a mapper closure applied once per chunk in
parallel, and a reducer closure applied ONCE on the master over the array
of mapper outputs. The framework ships the mapper's *source code* to
workers (B::Deparse at Simple.pm:164, string-eval at Simple.pm:408),
retries failed chunks (Simple.pm:247-315), drops undef results
(Simple.pm:328-335), and preserves chunk order on the happy path
(Simple.pm:186,316-320).

Spark-first mapping (SURVEY.md §3.1): closure shipping is cloudpickle
(built into every PySpark job), dispatch/retry/parallelism are the
DAGScheduler's job, so the whole 515-line reference collapses to
``sc.parallelize(chunks, n).map(mapper).collect()`` + a driver-side
reduce. Deliberate divergences, per SURVEY.md §7 risk list:

* **failure**: the reference *discards* twice-failed chunks
  (Simple.pm:321-327); Spark fails the job after ``spark.task.maxFailures``
  — fail-fast is the only sane policy at 100 TB (no silent data loss).
* **order**: reducer input is declared unordered (the reference itself
  scrambles order under failover, Simple.pm:308-320); reducers must be
  commutative — which every reference example already is.
* **mapper argument**: always the chunk (list of elements), resolving the
  reference's local/remote asymmetry (Simple.pm:241 vs Simple.pm:202).
"""

from __future__ import annotations

import pickle
import random
from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark import cloudpickle
from pyspark.sql import SparkSession

# Partitioning strategies ≙ reference create_assigned_data methods
# (Simple.pm:34-146).
CHUNK_METHODS = ("element_sequential", "element_shuffle", "volume_uniform")
# Strategies 1d-1f (server-capacity-weighted assignment, Simple.pm:66-132
# + the spec probe Simple.pm:457-474) are accepted as NO-OP parity shims
# mapping to sequential striping: the weighting decided which WORKER URL
# got which chunk, and on Spark task placement is the scheduler's job —
# executor slots already fill proportionally to their cores (SURVEY.md
# §2.1). The aliases exist so a caller ported from the reference runs
# unmodified.
CAPACITY_METHOD_ALIASES = (
    "element_server_cores",   # Simple.pm: weight by probed core count
    "element_server_workers", # Simple.pm: weight by configured workers
    "element_core_clock",     # Simple.pm: weight by cores × clock
)


# types that cloudpickle pickles to the same bytes as pickle
_PLAIN_TYPES = frozenset((int, float, str, bytes, bool, type(None)))


def _pickled_size(x: Any) -> int:
    """Bytes of ``x`` as cloudpickle ships it. Plain values skip
    cloudpickle's per-call Pickler; everything else goes through it, as
    data may hold locally defined classes and closures (≙ the
    reference's Storable+Deparse path, Simple.pm:173-178)."""
    if type(x) in _PLAIN_TYPES:
        return len(pickle.dumps(x, cloudpickle.DEFAULT_PROTOCOL))
    return len(cloudpickle.dumps(x))


def create_assigned_data(data: Sequence[Any], chunk_num: int = 8,
                         method: str = "volume_uniform",
                         seed: int | None = None) -> list[list[Any]]:
    """Split ``data`` into ``chunk_num`` chunks (≙ Simple.pm:34-146).

    Unlike the reference there is no worker URL bound to each chunk —
    task placement is the Spark scheduler's job, so the return value is
    just the chunks.

    * ``element_sequential`` — element i → chunk i mod n (Simple.pm:59-65)
    * ``element_shuffle`` — random shuffle then round-robin (Simple.pm:50-58)
    * ``volume_uniform`` — sort by serialized size, round-robin: chunks get
      size-balanced (Simple.pm:133-144); pickle size stands in for the
      reference's MessagePack size (Simple.pm:134-137).
    * ``element_server_cores`` / ``element_server_workers`` /
      ``element_core_clock`` — accepted for reference parity
      (Simple.pm:66-132) and treated as ``element_sequential``: capacity
      weighting steered worker ASSIGNMENT, which Spark's scheduler owns.
    """
    if chunk_num <= 0:
        raise ValueError("chunk_num must be positive")
    if method in CAPACITY_METHOD_ALIASES:
        method = "element_sequential"
    if method not in CHUNK_METHODS:
        raise ValueError(
            f"unknown method {method!r}; expected one of "
            f"{CHUNK_METHODS + CAPACITY_METHOD_ALIASES}"
        )
    items = list(data)
    if method == "element_shuffle":
        random.Random(seed).shuffle(items)
    elif method == "volume_uniform":
        items.sort(key=_pickled_size, reverse=True)
    chunks: list[list[Any]] = [[] for _ in range(chunk_num)]
    for i, x in enumerate(items):
        chunks[i % chunk_num].append(x)
    return [c for c in chunks if c]  # reference never emits empty chunks


class MapReduceEngine:
    """Engine object ≙ ``MapReduce::Framework::Simple->new`` (Simple.pm:19-30).

    Config parity:

    * ``skip_undef_result`` (Simple.pm:22,328-335) → ``skip_none``: drop
      ``None`` mapper outputs before reduce (default on, like the ref).
    * ``warn_discarded_data``/``die_discarded_data`` (Simple.pm:23-24):
      not configurable — the engine is always fail-fast (Spark task
      retry exhaustion fails the job; strictly safer, see module doc).
    * ``verify_hostname``/``worker_*``/``port``/``path`` (HTTP plumbing,
      Simple.pm:21,25-30): no equivalent needed — transport is Spark RPC.
    """

    def __init__(self, spark: SparkSession | None = None, skip_none: bool = True):
        self._spark = spark
        self.skip_none = skip_none

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from mapreduce_framework_simple_spark.session import get_session
            self._spark = get_session()
        return self._spark

    def map_reduce(self,
                   data: Sequence[Any],
                   mapper: Callable[[list[Any]], Any],
                   reducer: Callable[[list[Any]], Any],
                   max_proc: int = 8,
                   chunk_num: int | None = None,
                   method: str = "volume_uniform",
                   pre_chunked: bool = False) -> Any:
        """≙ ``$mfs->map_reduce($data, $mapper, $reducer, $max_proc)``
        (Simple.pm:149-339).

        ``data`` is either a flat element list (chunked here, like the
        reference's auto-assign path Simple.pm:166-168) or, with
        ``pre_chunked=True``, an already-chunked ``[[...], [...]]`` (like
        passing ``create_assigned_data`` output).

        The mapper runs once per chunk in parallel on executors (closure
        pickled by Spark — ≙ deparse/eval, Simple.pm:164,408); the reducer
        runs once on the driver over the list of mapper outputs
        (≙ Simple.pm:335-337). Reducer input order is unspecified.
        """
        chunks: list[list[Any]]
        if pre_chunked:
            # strip empties here too: the never-empty-chunk contract
            # (create_assigned_data and map_reduce_iter both enforce it)
            # must hold for caller-chunked input as well — a
            # t/01_basic.t-style avg mapper divides by len(chunk)
            chunks = [c for c in (list(c) for c in data) if c]
        else:
            # explicit None test: `chunk_num or max_proc` would silently
            # rewrite an (invalid) chunk_num=0 to max_proc instead of
            # letting create_assigned_data raise its documented ValueError
            chunks = create_assigned_data(
                data, max_proc if chunk_num is None else chunk_num, method
            )
        if not chunks:
            return reducer([])
        sc = self.spark.sparkContext
        # One Spark partition per chunk: mapPartitions sees exactly one
        # chunk, giving the reference's per-chunk execution unit.
        rdd = sc.parallelize(chunks, len(chunks)).map(mapper)
        results = rdd.collect()
        if self.skip_none:
            results = [r for r in results if r is not None]
        return reducer(results)

    def map_reduce_iter(self,
                        elements: Iterable[Any],
                        mapper: Callable[[Iterable[Any]], Any],
                        reducer: Callable[[list[Any]], Any],
                        num_partitions: int | None = None) -> Any:
        """Scale path: skip driver-side chunk materialization and let Spark
        partition (``num_partitions=None`` → ``sc.defaultParallelism``,
        which follows the session's core count). For data that does not
        fit on the driver the caller should instead express the job as
        DataFrame ops or ``mapInPandas`` (see operators.relational) — this
        surface exists for closure parity, not as the 100 TB hot path.
        """
        sc = self.spark.sparkContext
        # drop empty partitions before mapping: parallelize with more
        # partitions than elements yields empty gloms, and the reference's
        # never-empty-chunk contract (create_assigned_data strips them)
        # must hold here too — a t/01_basic.t-style avg mapper divides by
        # len(chunk) and would crash on []
        rdd = (
            sc.parallelize(list(elements), num_partitions)
            .glom()
            .filter(lambda part: len(part) > 0)
            .map(mapper)
        )
        results = rdd.collect()
        if self.skip_none:
            results = [r for r in results if r is not None]
        return reducer(results)


def map_reduce(data: Sequence[Any],
               mapper: Callable[[list[Any]], Any],
               reducer: Callable[[list[Any]], Any],
               max_proc: int = 8,
               spark: SparkSession | None = None,
               skip_none: bool = True,
               **kw: Any) -> Any:
    """Module-level convenience ≙ the reference's synopsis usage
    (README.md:14-41). ``skip_none`` ≙ ``skip_undef_result`` — it is an
    engine-constructor option, routed there rather than forwarded to
    ``engine.map_reduce`` (which would TypeError on it)."""
    return MapReduceEngine(spark, skip_none=skip_none).map_reduce(
        data, mapper, reducer, max_proc, **kw
    )

"""Query-scoped cache registry — storage hygiene for long-lived sessions.

``DataFrame.cache()`` registers the plan in Spark's CacheManager, which —
unlike RDD/localCheckpoint blocks — is NOT released when the Python handle
is garbage-collected. A query function that caches an intermediate and
returns a LAZY result cannot unpersist before returning without losing the
cache, so any consumer that runs many queries in one session (the round
driver's 125-query sweep, bench.py, the full oracle suite, a production
query service) would accumulate dead cached frames in executor storage.

Protocol:

* query internals wrap intra-query caches in :func:`scoped_cache` instead
  of calling ``.cache()`` directly;
* harness loops call :func:`release_caches` once the previous query's
  result is materialized — ``__spark_entry__.queries()`` wraps every
  callable to do this at CALL TIME, so even the external round driver
  (which we cannot hook) holds at most one query's caches at any moment.

Composition stays safe: queries that build on other queries (q107/q112/
q126 re-run q38) call the raw functions, not the wrapped ``queries()``
entries, so an outer query's caches are never dropped mid-flight by an
inner call. ``unpersist`` on an already-released frame is a Spark no-op,
so operators that additionally unpersist eagerly (connected_components'
per-round discipline) can keep doing so.

The module also owns the one memo that outlives a query
(:func:`memo_stat`, planner statistics and the capped corpus bands) with
the input fingerprint it keys on, and :func:`size_gate`, the one probe of
every size dispatch.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCOPED: list[DataFrame] = []

# Per-thread stack of active cache_scope registries. Scopes are
# thread-local because they run on more threads than the global
# registry's single-threaded contract covers: a streaming foreachBatch
# callback (its own driver thread per stream) wraps each microbatch in
# cache_scope while the main thread keeps running queries. Each scope
# owns its registry, so it releases exactly what its thread registered
# inside the block, and a drain on another thread cannot touch it.
_TLS = threading.local()


def _active_scope() -> tuple[list, list] | None:
    """The innermost cache_scope registry open on THIS thread, or None
    (registrations then go to the global release_caches registry)."""
    stack = getattr(_TLS, "scopes", None)
    return stack[-1] if stack else None


@contextmanager
def cache_scope():
    """Release every scoped cache registered inside the block ON THIS
    THREAD on exit — for self-contained multi-query passes
    (pipeline.curate, streaming microbatches) that must not leave their
    internal caches behind, without touching caches an enclosing
    consumer registered earlier. The registry is scope-owned and
    thread-local, so a mid-scope ``release_caches()`` (a consumer
    invoking a queries()-wrapped callable inside the block, or a
    concurrent thread hitting a query boundary) neither drops the
    scope's caches mid-flight nor causes the exit to release anything
    another thread registered. The trade-off is deliberate: in-scope
    registrations are HELD until exit (a mid-scope global drain no
    longer frees them), so a scope should wrap ONE self-contained pass
    or microbatch — wrapping a long multi-query session in a single
    scope would accumulate every query's caches until exit, which is
    the global registry's job to bound, not a scope's.

    SAME-THREAD contract: registrations count toward a scope only when
    issued on the thread that opened it. A helper thread spawned INSIDE
    the block sees no active scope and registers into the global
    :func:`release_caches` registry, where its caches outlive scope
    exit until the next global drain — worker threads that need
    scope-bounded lifetimes must open their own ``cache_scope`` around
    their work (scopes nest freely and are per-thread stacks)."""
    scope: tuple[list, list] = ([], [])  # (frames, broadcasts)
    stack = getattr(_TLS, "scopes", None)
    if stack is None:
        stack = _TLS.scopes = []
    stack.append(scope)
    try:
        yield
    finally:
        stack.pop()
        _drain(*scope)


def scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register the handle for release at the next
    boundary: the innermost :func:`cache_scope` open on this thread if
    any, else the global :func:`release_caches` registry."""
    df = df.cache()
    scope = _active_scope()
    (scope[0] if scope is not None else _SCOPED).append(df)
    return df


def scoped_release(df: DataFrame) -> DataFrame:
    """Register an ALREADY-materialized frame (a localCheckpoint) for
    release at the next query boundary, without re-caching it — calling
    :func:`scoped_cache` on a checkpointed frame would register its
    LogicalRDD plan in the CacheManager and duplicate the blocks into
    cache storage on the next action."""
    scope = _active_scope()
    (scope[0] if scope is not None else _SCOPED).append(df)
    return df


_SCOPED_BCAST: list = []


def scoped_broadcast(bc):
    """Register an ``sc.broadcast`` handle for executor-side release at
    the next boundary (innermost same-thread :func:`cache_scope`, else
    :func:`release_caches`). ``unpersist`` (not ``destroy``): it drops
    the executor copies but keeps the driver value, so a plan that
    re-executes after the boundary transparently re-ships it — without
    this, each kernel invocation leaks one torrent-distributed copy
    until a JVM GC lets the ContextCleaner notice the dead reference
    (the same nondeterministic-release mode release_local_checkpoint
    exists to avoid)."""
    scope = _active_scope()
    (scope[1] if scope is not None else _SCOPED_BCAST).append(bc)
    return bc


def release_local_checkpoint(df: DataFrame) -> bool:
    """Deterministically free the executor blocks of a
    ``localCheckpoint()``-ed frame.

    ``DataFrame.unpersist()`` goes through the CacheManager and silently
    NO-OPS on a localCheckpoint, whose blocks belong to the internal RDD
    behind the LogicalRDD plan; left alone they are freed only when the
    ContextCleaner notices the JVM object is unreachable (needs a JVM GC
    — nondeterministic, periodic fallback every 30 min), so a fixpoint
    loop that supersedes one checkpoint per round can hold many rounds'
    worth of node-sized block sets at once. Best-effort: returns True
    when blocks were released, False when the plan is not a LogicalRDD;
    :func:`release_frame` pairs it with ``unpersist()``."""
    try:
        jplan = df._jdf.queryExecution().analyzed()
        if jplan.getClass().getSimpleName() != "LogicalRDD":
            return False
        jplan.rdd().unpersist(False)
        return True
    except Exception:
        return False


def release_frame(df: DataFrame) -> None:
    """Free a frame whichever way it was materialized: BOTH the
    CacheManager entry (``cache()``/scoped_cache) and any
    localCheckpoint blocks — the query-boundary release of every scoped
    frame, and the fixpoint loops' release of each superseded round.
    Unconditionally doing both is what makes the
    routing safe: a scoped_cache'd frame whose analyzed plan root
    happens to be LogicalRDD (e.g. a cached bare createDataFrame result)
    would otherwise take the checkpoint branch only and leave its
    CacheManager entry pinned; unpersist() on an uncached frame and
    RDD.unpersist() on a never-persisted RDD are both no-ops, so the
    double call costs nothing."""
    df.unpersist(blocking=False)
    release_local_checkpoint(df)


# --------------------------------------------------------------------------
# The memo: values that outlive a query, keyed on what they derive from.
# --------------------------------------------------------------------------

# Most values are planner scalars. A frame value pins executor storage
# (the capped corpus bands, ~224 B/doc), one per (session, sf_dir, plan):
# the bound caps how many inputs' frames a long session can pin.
MEMO_MAX = 32
# key -> (value, cached frames the value holds); dict order is LRU order
_MEMO: dict[tuple, tuple[object, list[DataFrame]]] = {}


def _evict(key: tuple) -> None:
    """Forget ``key``'s entry and unpersist the frames it holds."""
    for h in _MEMO.pop(key)[1]:
        try:
            h.unpersist(blocking=False)
        except Exception:  # a stopped session has nothing left to release
            pass


def _memoized(key: tuple, compute):
    """``key``'s value, computing and inserting it on a miss. The entry
    takes the cached frames the value holds out of the scoped registries
    (``compute`` caches them with ``scoped_cache``), so only eviction
    unpersists them. A hit becomes the most recently used entry and
    re-caches its frames if a ``spark.catalog.clearCache()`` dropped
    them (a registration only: the data fills again at the next
    action). Past ``MEMO_MAX`` entries the least recently used goes
    first."""
    ent = _MEMO.pop(key, None)
    if ent is None:
        val = compute()
        items = val if isinstance(val, tuple) else (val,)
        held = [v for v in items if isinstance(v, DataFrame) and v.is_cached]
        # the entry owns its frames: no query boundary may release them
        for reg in (_SCOPED, *(s[0] for s in getattr(_TLS, "scopes", ()))):
            reg[:] = [f for f in reg if all(f is not h for h in held)]
        ent = (val, held)
    else:
        for h in ent[1]:
            lvl = h.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                h.cache()
    _MEMO[key] = ent
    while len(_MEMO) > MEMO_MAX:
        _evict(next(iter(_MEMO)))
    return ent[0]


def memo_stat(name, df: DataFrame, sf_dir: str, compute):
    """THE memo: ``compute()`` for the value ``name`` of ``df`` over the
    input directory ``sf_dir``, run once per key

        (name, applicationId, sf_dir, guarded input fingerprint of
         sf_dir, semanticHash of df's analyzed plan).

    ``name`` carries the value's parameters (``("dim_rows", bound)``).
    The plan hash keeps two differently filtered frames over one input
    apart; the fingerprint makes a rewrite of any table under ``sf_dir``
    mint a new key, so a grown input is measured again; the application
    id keeps another session's entries from hitting.

    Most values are planner statistics, which choose a plan, never rows:
    a stale one costs time but cannot change an answer. A value may also
    be a cached frame, or a tuple holding some; the entry then holds
    them. Eviction unpersists them and a hit re-arms them. A miss first
    evicts every frame-holding entry over the same session, ``sf_dir``
    and plan: Spark's CacheManager matches cached data by logical plan,
    so a rebuild after a same-path rewrite would otherwise read the
    superseded entry's rows."""
    spark = df.sparkSession
    key = (
        name,
        spark.sparkContext.applicationId,
        sf_dir,
        _fingerprint_guarded(sf_dir, spark),
        df._jdf.queryExecution().analyzed().semanticHash(),
    )
    if key not in _MEMO:
        for k in [k for k, (_, held) in _MEMO.items()
                  if held and k[1:3] == key[1:3] and k[4] == key[4]]:
            _evict(k)
    return _memoized(key, compute)


def clear_memo() -> int:
    """Forget every memo entry, unpersisting the frames they hold, for
    strictly cold runs or session teardown; returns how many there were."""
    n = len(_MEMO)
    while _MEMO:
        _evict(next(iter(_MEMO)))
    return n


def size_gate(df: DataFrame, bound: int, *, collect: bool = False):
    """THE size test of every bounded dispatch: ``(fits, value)``, where
    ``fits`` is ``df`` having at most ``bound`` rows and ``value`` is,
    when it fits, the exact row count — with ``collect``, the rows as a
    pandas frame — else None. One Spark job (``limit(bound + 1)`` via
    Arrow ``toPandas()``, one job fewer than ``limit().count()``); the
    count mode fetches one constant boolean column."""
    probe = df if collect else df.select(F.lit(True).alias("_"))
    rows = probe.limit(bound + 1).toPandas()
    if len(rows) > bound:
        return False, None
    return True, rows if collect else len(rows)


def _hadoop_listing(spark, path: str) -> list[str]:
    """``path:length:modificationTime`` for every file under ``path``,
    recursively, via the session's Hadoop FileSystem — the same
    rewrite-detection signal the local os.stat branch folds. Raises on
    schemes with no FS implementation (callers degrade to ``nostat``);
    testable against ``file:///`` directly."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(jpath, True)
    entries = []
    while it.hasNext():
        st = it.next()
        entries.append(f"{st.getPath()}:{st.getLen()}:{st.getModificationTime()}")
    return entries


def _local_path(path: str) -> str | None:
    """``path`` as a local filesystem path, or None for a non-local URI.
    Only a ``://`` URI counts as non-local (a bare local path with ``:``
    inside a segment stays local); ``file://`` strips to its path."""
    if "://" not in path:
        return path
    if not path.startswith("file://"):
        return None
    from urllib.parse import urlsplit

    return urlsplit(path).path


def _input_fingerprint(path: str, spark=None) -> str:
    """Deep snapshot of an input path — sorted (path, size, mtime) of
    every data file, md5-folded, so a consumer that REWRITES the dataset
    at the same path gets a new value. Non-local schemes (s3a/hdfs/...)
    never hit os.stat: with a ``spark`` handle they fold the Hadoop
    FileSystem listing, which also detects a rewriter that keeps
    part-file names (distcp -overwrite); else ``"nostat"`` (path-only
    key)."""
    import hashlib

    h = hashlib.md5()
    local = _local_path(path)
    if local is None:
        if spark is None:
            return "nostat"
        try:
            entries = _hadoop_listing(spark, path)
        except Exception:  # no FS impl / unreadable: degrade, don't fail the memo
            return "nostat"
        for e in sorted(entries):
            h.update(e.encode() + b";")
        return h.hexdigest()
    try:
        if os.path.isdir(local):
            for root, dirs, files in os.walk(local):
                dirs.sort()
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    h.update(
                        f"{os.path.relpath(fp, local)}:{st.st_size}:"
                        f"{st.st_mtime_ns};".encode()
                    )
        elif os.path.isfile(local):
            st = os.stat(local)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
        else:
            return "nostat"
    except OSError:
        return "nostat"
    return h.hexdigest()


def _fingerprint_guarded(sf_dir: str, spark) -> str:
    """:func:`_input_fingerprint` of ``sf_dir`` behind a cheap guard, so
    a memo HIT does not stat every data file of the whole input. The
    guard stats every DIRECTORY under sf_dir plus sf_dir's top-level
    files: creating, deleting, renaming or replacing an entry at ANY
    depth bumps its parent directory's mtime (covering partition-scoped
    overwrites inside table/date=x/), and the top-level file stats cover
    single-file tables. Cost is O(#dirs), not O(#files). Residual miss:
    an in-place truncate-rewrite of a NESTED file, which no
    Spark/pandas/DuckDB table writer does. Non-local URIs pay the
    listing-based deep fingerprint per call."""
    local = _local_path(sf_dir)
    if local is None:
        return _input_fingerprint(sf_dir, spark)
    try:
        st = os.stat(local)
        sig = [(".", st.st_mtime_ns, st.st_size)]
        for root, dirs, files in os.walk(local):
            for name in dirs + (files if root == local else []):
                p = os.path.join(root, name)
                st = os.stat(p)
                sig.append((os.path.relpath(p, local), st.st_mtime_ns,
                            st.st_size))
    except OSError:
        return _input_fingerprint(sf_dir, spark)
    return _memoized(
        ("input_fingerprint", sf_dir, tuple(sorted(sig))),
        lambda: _input_fingerprint(sf_dir, spark),
    )


def release_caches() -> int:
    """Unpersist every scoped cache registered since the last call.

    Non-blocking (block deletion proceeds async on the executors); returns
    the number of registrations released — scoped FRAMES plus scoped
    BROADCASTS (consumers metering frames alone should not read this
    total as a frame count). Safe to call at any query boundary —
    by then the previous query's result has been materialized by its
    consumer, so its caches are dead weight. Registrations inside an
    open :func:`cache_scope` live in that scope's own thread-local
    registry, not here — the scope releases them at exit."""
    return _drain(_SCOPED, _SCOPED_BCAST)


def _drain(frames: list, bcasts: list) -> int:
    """Release every frame, then every broadcast, emptying both lists;
    returns how many released without error (a stopped session has
    nothing left to release)."""
    n = 0
    while frames:
        try:
            release_frame(frames.pop())
            n += 1
        except Exception:
            pass
    while bcasts:
        try:
            bcasts.pop().unpersist(blocking=False)
            n += 1
        except Exception:
            pass
    return n

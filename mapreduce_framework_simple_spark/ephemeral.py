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

The module also owns the two memos that outlive a query: the session memo
of bounded frames (:func:`memo_get` / :func:`memo_put`) and the memo of
planner statistics (:func:`memo_stat`), with the input fingerprints both
key on.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_SCOPED: list[DataFrame] = []

# Per-thread stack of active cache_scope registries. Scopes are
# THREAD-LOCAL because they run on more threads than the global
# registry's single-threaded contract covers: a streaming foreachBatch
# callback (its own driver thread per stream) wraps each microbatch in
# cache_scope while the main thread keeps running queries. With
# index-marks into the GLOBAL lists (the pre-round-9 design), a stream
# scope's exit popped every registration above its mark — including the
# main thread's, thrashing a concurrent query's live caches — and a
# concurrent release_caches() voided the marks entirely. A scope now
# owns its own registry: it releases exactly what ITS thread registered
# inside the block, and a global drain on another thread cannot touch
# (or be confused by) scope-internal registrations.
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
        frames, bcasts = scope
        while frames:
            df = frames.pop()
            try:
                _release(df)
            except Exception:
                pass
        # broadcasts registered inside the block drain with it too — a
        # cache_scope consumer that never reaches a global
        # release_caches() must not accumulate one torrent copy per
        # kernel invocation
        while bcasts:
            bc = bcasts.pop()
            try:
                bc.unpersist(blocking=False)
            except Exception:
                pass


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
    when blocks were released, False when the plan is not a LogicalRDD
    (callers fall back to ``unpersist()``/GC)."""
    try:
        jplan = df._jdf.queryExecution().analyzed()
        if jplan.getClass().getSimpleName() != "LogicalRDD":
            return False
        jplan.rdd().unpersist(False)
        return True
    except Exception:
        return False


def _release(df: DataFrame) -> None:
    """Free a scoped frame whichever way it was materialized: BOTH the
    CacheManager entry (scoped_cache) and any localCheckpoint blocks
    (scoped_release). Unconditionally doing both is what makes the
    routing safe: a scoped_cache'd frame whose analyzed plan root
    happens to be LogicalRDD (e.g. a cached bare createDataFrame result)
    would otherwise take the checkpoint branch only and leave its
    CacheManager entry pinned; unpersist() on an uncached frame and
    RDD.unpersist() on a never-persisted RDD are both no-ops, so the
    double call costs nothing."""
    df.unpersist(blocking=False)
    release_local_checkpoint(df)


# --------------------------------------------------------------------------
# Session memo: bounded frames that SURVIVE release_caches().
#
# Scoped caches die at the next query boundary because they are intra-query
# intermediates. A few frames are worth keeping for the WHOLE session: the
# capped corpus band-signature frame is rebuilt — including its eager
# drop-count guard action — by every query composing q38 (q79, q89, q107,
# q126), five times over in the driver's 125-query sweep, even though the
# inputs are immutable parquet. Memo entries are bounded by construction
# (bands: 4 rows/doc ≈ 224 B/doc — ~0.02 % of the text it derives from, a
# couple dozen GB across a cluster at 100 TB corpus scale) and there is at
# most ONE entry per (session, sf_dir, kind), so memo storage cannot grow
# with query count. Same single-threaded contract as the scoped registry.
# --------------------------------------------------------------------------

# key -> (application_id, frame, held caches); insertion order is LRU order.
# Hygiene bounds (ADVICE r4): entries from stopped SparkContexts are evicted
# on the next put, and the registry is LRU-capped so many distinct
# (sf_dir, cap) keys (test suites, multi-sf drivers) cannot pin unbounded
# executor storage within one session.
_MEMO: dict[tuple, tuple[str, DataFrame, list[DataFrame]]] = {}
MEMO_MAX_ENTRIES = 8


def _evict(key: tuple) -> None:
    ent = _MEMO.pop(key, None)
    if ent is None:
        return
    for h in ent[2]:
        try:
            h.unpersist(blocking=False)
        except Exception:
            pass


def memo_get(key: tuple) -> DataFrame | None:
    """Return the memoized frame for ``key`` (None if absent), re-arming
    the cache registration of its held frames first: an intervening
    ``spark.catalog.clearCache()`` (bench hygiene) unpersists the DATA
    and deregisters the plan, so without re-arming every later use would
    recompute uncached. Re-caching an uncached plan is a registration
    only — the data repopulates lazily at the next action. A hit moves
    the entry to most-recently-used position."""
    ent = _MEMO.get(key)
    if ent is None:
        return None
    app_id, df, holds = ent
    # liveness check BEFORE the re-arm loop: the stale-context sweep runs
    # only in memo_put, and an entry with EMPTY holds (the API permits
    # them; only the in-tree caller happens to embed app ids in its keys)
    # would skip the loop entirely and hand back a frame bound to a
    # stopped JVM session — the caller would crash at its first action
    # instead of getting the documented miss
    try:
        sc = df.sparkSession.sparkContext
        alive = sc.applicationId == app_id and not sc._jsc.sc().isStopped()
    except Exception:
        alive = False
    if not alive:
        _evict(key)  # holds' blocks died with the context; unpersist is
        return None  # a swallowed no-op there, the pop is what matters
    for h in holds:
        try:
            lvl = h.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                h.cache()
        except Exception:
            # stale/failing entry: EVICT (unpersists every hold,
            # including ones this loop already re-armed — a bare pop
            # would leave those as untracked CacheManager registrations
            # pinned until a global clearCache), then miss
            _evict(key)
            return None
    _MEMO.pop(key)
    _MEMO[key] = (app_id, df, holds)  # re-insert at MRU position
    return df


def memo_put(key: tuple, df: DataFrame, holds: list[DataFrame]) -> DataFrame:
    """Register ``df`` under ``key``; ``holds`` are the cached frames the
    plan depends on (kept so eviction / :func:`clear_memo` can unpersist
    them). Put-time hygiene: entries whose SparkContext differs from
    ``df``'s are evicted (their executor blocks died with the old
    context; only the registry entry lingers), then the registry is
    LRU-capped at ``MEMO_MAX_ENTRIES``."""
    try:
        app_id = df.sparkSession.sparkContext.applicationId
    except Exception:
        # the frame's context is already gone: memoizing it is useless
        # (every get would fail re-arm), and running the cross-app sweep
        # with an "<unknown>" id would evict EVERY live entry — skip both
        return df
    for k in [k for k, ent in _MEMO.items() if ent[0] != app_id]:
        _evict(k)
    # A re-put over a live key must unpersist the old entry's holds first
    # (a plain overwrite would orphan them as permanently-pinned executor
    # blocks) — and popping also restores correct MRU insertion order.
    _evict(key)
    _MEMO[key] = (app_id, df, holds)
    while len(_MEMO) > MEMO_MAX_ENTRIES:
        _evict(next(iter(_MEMO)))  # head of insertion order = LRU
    return df


def evict_stale_inputs(prefix: tuple, fingerprint, fp_pos: int) -> int:
    """Evict entries whose key starts with ``prefix`` but whose
    ``key[fp_pos]`` input fingerprint differs from ``fingerprint``.

    Required for correctness, not just storage hygiene: Spark's
    CacheManager matches by LOGICAL PLAN, and a same-path rebuild plans
    the identical scan — with the stale entry's frames still registered,
    the rebuilt plan would silently read the OLD cached data. Dropping
    the stale entry's caches first makes the rebuild actually re-scan."""
    n = 0
    for k in [
        k
        for k in _MEMO
        if k[: len(prefix)] == prefix
        # a prefix-matching key too short to CARRY a fingerprint slot is
        # malformed for this family — treat it as stale (evict) rather
        # than raising IndexError out of the caller's query
        and (len(k) <= fp_pos or k[fp_pos] != fingerprint)
    ]:
        _evict(k)
        n += 1
    return n


def clear_memo() -> int:
    """Unpersist and forget every memoized frame (session teardown, or a
    consumer that wants strictly-cold executions)."""
    n = 0
    for _app, df, holds in _MEMO.values():
        for h in holds:
            try:
                h.unpersist(blocking=False)
                n += 1
            except Exception:
                pass
    _MEMO.clear()
    return n


# --------------------------------------------------------------------------
# Planner statistics: memoized scalars taken before dispatch.
#
# A statistic chooses a plan (broadcast or not, which kernel), never rows,
# so a stale value can cost time but cannot change an answer. Values are
# plain scalars or tuples of them: nothing here unpersists.
# --------------------------------------------------------------------------

STAT_MEMO_MAX = 32
_STAT_MEMO: dict[tuple, object] = {}


def _memoized(key: tuple, compute):
    """``_STAT_MEMO[key]``, computing and inserting it on a miss; the
    oldest entries go first once ``STAT_MEMO_MAX`` is reached."""
    if key in _STAT_MEMO:
        return _STAT_MEMO[key]
    val = compute()
    while len(_STAT_MEMO) >= STAT_MEMO_MAX:
        _STAT_MEMO.pop(next(iter(_STAT_MEMO)))
    _STAT_MEMO[key] = val
    return val


def memo_stat(name, df: DataFrame, sf_dir: str, compute):
    """THE memo of planner statistics: return ``compute()`` for the
    statistic ``name`` of ``df`` over the input directory ``sf_dir``,
    running it once per key

        (name, applicationId, sf_dir, guarded input fingerprint of
         sf_dir, semanticHash of df's analyzed plan).

    ``name`` carries the statistic's parameters (e.g.
    ``("dim_rows", bound)``). The plan hash keeps two differently
    filtered frames over one input apart; the fingerprint makes an
    in-session rewrite of ANY table under ``sf_dir`` mint a new key, so
    a grown input re-measures instead of riding a stale value."""
    spark = df.sparkSession
    key = (
        name,
        spark.sparkContext.applicationId,
        sf_dir,
        _fingerprint_guarded(sf_dir, spark),
        df._jdf.queryExecution().analyzed().semanticHash(),
    )
    return _memoized(key, compute)


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
    n = 0
    while _SCOPED:
        df = _SCOPED.pop()
        try:
            _release(df)
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    while _SCOPED_BCAST:
        bc = _SCOPED_BCAST.pop()
        try:
            bc.unpersist(blocking=False)
            n += 1
        except Exception:
            pass
    return n

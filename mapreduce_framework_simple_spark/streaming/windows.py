"""Streaming operators over ``events`` (Structured Streaming + batch twins).

The reference has no streaming at all (batch RPC only, SURVEY.md §2.3);
this is north-star surface. Protocol per SURVEY.md §5: DuckDB can't check
a live stream, so every windowed operator declares its *batch-equivalent*
query for the oracle, and the real ``readStream`` pipeline is verified
against that batch answer with an ``availableNow`` trigger in tests
(tests/test_streaming.py).

Scale notes: all aggregations below are keyed by (window, low-cardinality
key), so state store size is bounded by windows × keys; watermarks bound
how long a window's state lives. ``foreachBatch`` is the sink pattern for
parquet/warehouse writes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_simple_spark.operators.relational import (
    cents,
    cents_l,
    duck_cents,
    duck_cents_l,
)
from mapreduce_framework_simple_spark.registry import query
from mapreduce_framework_simple_spark.sources.io import SCHEMAS, load_table

# ---------------------------------------------------------------------------
# Batch twins (oracle-checked)
# ---------------------------------------------------------------------------

# Exact-cents value sum shared by the batch twins AND the streaming faces:
# event values are 2-dp doubles, so a float sum accumulates in partition/
# microbatch order — batch vs stream (different batching!) and Spark vs
# DuckDB would agree only to the last ULPs. Integer-cents sums are exact
# under any order; one double conversion at the end (the q128 discipline).
def _sum_value_cents(alias: str = "sum_value") -> "F.Column":
    # THE shared cents() rule (relational.py) — a respelled copy here
    # had already drifted risk-wise: a HALF_UP/rounding fix applied to
    # cents() must reach the batch≡stream equality surface too
    return (F.sum(cents("value")).cast("double") / 100).alias(alias)


@query(
    "q50_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum({duck_cents('value')}) AS DOUBLE) / 100
               AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q50_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows × event_type (batch twin of the streaming
    aggregation in :func:`stream_tumbling`). Spark's window() aligns to
    the epoch origin, exactly like DuckDB's time_bucket."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _sum_value_cents())
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q51_sliding_window",
    oracle=f"""
    WITH slid AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL 30 MINUTE AS window_start,
               value
        FROM events CROSS JOIN (VALUES (0), (1)) t(k)
    )
    SELECT window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum({duck_cents('value')}) AS DOUBLE) / 100
               AS sum_value
    FROM slid
    GROUP BY 1
    """,
)
def q51_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min. Each event belongs to exactly
    2 windows; the oracle materializes that membership explicitly."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), _sum_value_cents())
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


SESSION_GAP_MIN = 30


@query(
    "q52_session_window",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {SESSION_GAP_MIN} MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY 1, 2
    """,
)
def q52_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via gaps-and-islands window
    functions — the deterministic batch twin of streaming
    ``session_window`` (whose merged-window timestamps DuckDB cannot
    reproduce; tests assert the streaming variant agrees on session
    counts/membership)."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        # microsecond-exact gap compare (matches DuckDB's interval compare)
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
           > SESSION_GAP_MIN * 60 * 1_000_000),
        1,
    ).otherwise(0)
    # derived from w, not rebuilt: the session ordering tiebreaker must
    # stay consistent between lag() and the running sum by construction
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.select(
        "user_id", "ts", "event_id", F.sum(is_new).over(run).alias("session_id")
    )
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@query(
    "q53_stateful_running_count",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS running_count,
           CAST(sum({duck_cents_l('value')}) OVER w AS DOUBLE) / 100
             AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def q53_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count/sum at every event — the batch twin of a
    stateful streaming accumulator (flatMapGroupsWithState-style); the
    streaming form lives in :func:`stream_user_counts`.

    ``value`` is a 2-dp decimal, so the running sum accumulates exact
    integer cents in both engines (order-independent) with one identical
    double division at the end — a raw float running sum drifts between
    engines at the 1e-9 level."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("long").alias("running_count"),
        # the shared cents_l() rule (relational.py), not a local respell
        (F.sum(cents_l("value")).over(w).cast("double") / 100).alias(
            "running_value"
        ),
    )


# ---------------------------------------------------------------------------
# Real Structured Streaming pipelines (verified batch-vs-stream in tests)
# ---------------------------------------------------------------------------

def _stage_stream_source(spark: SparkSession, table: str, sf_dir: str,
                         n_files: int) -> str:
    """Stage one testdata table into a scratch drop-zone directory for the
    file streaming source (which requires a directory of immutable files),
    ALWAYS rewriting through the batch loader so physical-format variance
    (TIMESTAMP(NANOS)/NTZ columns the raw streaming reader would reject or
    misread) is normalized to the declared stream schema — for single-file
    AND directory sources alike.

    Keyed by a CONTENT fingerprint (every constituent file's name, mtime,
    size — the round driver regenerates testdata in place, and a path-only
    key would stream the stale corpus), scoped per-user under the shared
    temp dir. Concurrency-safe: the stage is written to a process-unique
    temp directory and atomically renamed into place, so two processes
    staging the same source cannot clobber a stage a third is already
    reading; the loser of the rename discards its copy and uses the
    winner's. ``n_files`` output files ⇒ ``n_files`` availableNow
    microbatches at ``maxFilesPerTrigger=1``."""
    import hashlib
    import re
    import shutil
    import tempfile
    import time

    from mapreduce_framework_simple_spark.ephemeral import _input_fingerprint

    src = os.path.join(sf_dir, f"{table}.parquet")
    # THE shared deep content fingerprint (ephemeral._input_fingerprint):
    # recursive (relpath, size, mtime_ns) md5-fold — a rewrite inside a
    # partition subdir leaves the top-level entry unchanged, so a
    # one-level listing would key the stale corpus as current.
    sig = _input_fingerprint(src, spark)
    if sig == "nostat":
        # the fingerprint's degrade sentinel is a STABLE value: folding
        # it into the key would stop detecting corpus rewrites (a stale
        # staged copy keys as current). For the memo that trade is fine;
        # for staging it is not — a missing/unreadable source must fail
        # here, as the replaced inline stat walk did.
        raise FileNotFoundError(
            f"stream source {src!r} is missing or unreadable: cannot "
            "fingerprint it for the staging key"
        )
    key = hashlib.md5(f"{src}:{sig}".encode()).hexdigest()[:12]
    uid = getattr(os, "getuid", lambda: 0)()
    # (src, n_files)-scoped prefix: GC must only reap superseded stages
    # of THIS source path AT THIS fan-out — a table staged from a
    # DIFFERENT sf_dir may be mid-stream in a concurrent process (driver
    # bench vs builder tests), and the SAME live source staged with a
    # different n_files (e.g. n_files=4 vs 8) is a live peer too: its
    # corpus is still current, only its microbatch layout differs, so
    # reaping it would fail that stream mid-read with missing files.
    # n_files therefore lives in the prefix (GC scope), not the content
    # key — within one (src, n_files) scope, a differing key really does
    # mean a superseded corpus.
    srch = hashlib.md5(src.encode()).hexdigest()[:8]
    stage_prefix = f"mfss_stream_{uid}_{table}_{srch}_n{n_files}_"
    drop_zone = os.path.join(tempfile.gettempdir(), stage_prefix + key)
    # GC superseded stages: every in-place regeneration of THIS source
    # mints a new content key, and without cleanup each one orphans a
    # full table copy in /tmp until the disk fills. A different-keyed
    # same-source sibling stages a corpus that no longer exists on disk
    # — any process still reading it is already consuming stale data, so
    # removing it is the lesser harm. (.tmp.* dirs are skipped: they
    # belong to a possibly-live peer's in-flight write; the rename-loser
    # path removes its own.)
    table_prefix = f"mfss_stream_{uid}_{table}_"
    # legacy-format sweep matches ONLY the two layouts prior rounds
    # actually wrote (pre-srchash `<table>_<key12>` and pre-n_files
    # `<table>_<srch8>_<key12>`) — never "anything not current-format":
    # a table whose name extends this one (e.g. 'events_v2' seen from
    # 'events') starts with table_prefix but fails the current-format
    # regex (its name tail occupies the srch slot), so a catch-all
    # sweep would rmtree a LIVE peer stage mid-stream
    legacy_fmt = re.compile(
        re.escape(table_prefix) + r"(?:[0-9a-f]{8}_)?[0-9a-f]{12}$"
    )
    for d in os.listdir(tempfile.gettempdir()):
        if ".tmp." in d:
            # in-flight write of a possibly-live peer — normally the
            # writer's own BaseException handler removes it, but a
            # SIGKILL/power-loss skips that handler and the partial
            # table copy would otherwise leak forever (the disk-fill
            # mode this sweep exists to prevent). The writer's pid rides
            # in the dir name: reap only when that pid is provably dead.
            if d.startswith(table_prefix):
                try:
                    os.kill(int(d.rsplit(".tmp.", 1)[-1]), 0)
                except (ValueError, ProcessLookupError):
                    shutil.rmtree(os.path.join(tempfile.gettempdir(), d),
                                  ignore_errors=True)
                except OSError:
                    pass  # e.g. EPERM: pid alive under another uid
            continue
        if d == stage_prefix + key:
            continue
        if d.startswith(stage_prefix) or legacy_fmt.match(d):
            shutil.rmtree(os.path.join(tempfile.gettempdir(), d),
                          ignore_errors=True)
    # completeness probe: rejects a partially-written stage from a
    # crashed prior run AND a stage /tmp aging has hollowed out. The
    # stage carries a MANIFEST marker (_MFSS_STAGE_COMPLETE: one
    # "name:size" line per data file, written after the tmp write
    # returns, before the rename) and the probe verifies every listed
    # file still exists at its recorded size — stronger than the old
    # _SUCCESS-existence check on both axes: it is committer-conf-
    # independent (mapreduce.fileoutputcommitter.marksuccessfuljobs=
    # false — a common object-store tuning — suppresses _SUCCESS, which
    # used to make every call read a COMPLETED stage as broken, rmtree
    # it out from under a draining peer stream, and rewrite the table),
    # and it detects aged-out DATA files even when the marker itself
    # survived. A manifest-less stage with _SUCCESS (pre-manifest
    # layout) keeps the legacy existence check.
    def _complete(dz: str) -> bool:
        manifest = os.path.join(dz, "_MFSS_STAGE_COMPLETE")
        entries = None
        for attempt in (0, 1):
            try:
                with open(manifest) as fh:
                    entries = [ln.rstrip("\n") for ln in fh if ln.strip()]
                break
            except FileNotFoundError:
                return os.path.exists(os.path.join(dz, "_SUCCESS"))
            except OSError:
                # A transient read failure on an EXISTING manifest
                # (EACCES/locking flaps on shared /tmp; EINTR is NOT in
                # this class — PEP 475 retries it inside open()) must
                # not condemn the stage: False routes into the rmtree-
                # and-restage branch, destroying a possibly-COMPLETE
                # stage under any draining peer stream. Re-probe once
                # after a beat; if the failure REPEATS while the
                # manifest still exists, the stage cannot be proven
                # incomplete — fail safe by raising (surface the /tmp
                # fault loudly) rather than returning False into the
                # destructive branch. False is reserved for PROVABLY
                # incomplete stages (manifest absent / empty / sizes
                # drifted). A manifest that vanished between attempts
                # was removed by a peer: fall back to the legacy probe.
                if attempt:
                    if os.path.exists(manifest):
                        raise RuntimeError(
                            f"stage manifest {manifest!r} exists but "
                            "failed to read twice: cannot prove the "
                            "stage incomplete, refusing to restage "
                            "over it (a draining peer stream may be "
                            "reading it) — clear the /tmp fault and "
                            "retry"
                        )
                    return os.path.exists(os.path.join(dz, "_SUCCESS"))
                time.sleep(0.05)
        if entries is None:  # unreachable; keeps the contract explicit
            return False
        if not entries:  # a real stage always has >= 1 data file
            return False
        for ent in entries:
            name, _, size = ent.rpartition(":")
            p = os.path.join(dz, name)
            try:
                if not name or os.path.getsize(p) != int(size):
                    return False
            except (OSError, ValueError):
                return False
        return True

    if not _complete(drop_zone):
        tmp = f"{drop_zone}.tmp.{os.getpid()}"
        try:
            load_table(spark, table, sf_dir).repartition(n_files).write.mode(
                "overwrite"
            ).parquet(tmp)
            manifest = [
                f"{f}:{os.path.getsize(os.path.join(tmp, f))}"
                for f in sorted(os.listdir(tmp))
                if not f.startswith(("_", "."))
            ]
            with open(os.path.join(tmp, "_MFSS_STAGE_COMPLETE"), "w") as fh:
                fh.write("\n".join(manifest) + "\n")
            try:
                os.rename(tmp, drop_zone)
            except OSError:
                # Either a concurrent process won the rename, or a BROKEN
                # stage (exists but no completion marker — e.g. /tmp aged
                # out files inside it) is blocking the slot. Distinguish
                # by re-probing: trusting "a winner exists" here
                # would silently stream a truncated stage forever. The
                # probe/remove/rename sequence is retried a few times —
                # two processes repairing concurrently can interleave so
                # one's remove races the other's rename; each retry
                # re-probes, so a completed peer stage is adopted rather
                # than deleted-and-raced again.
                for _ in range(4):
                    if _complete(drop_zone):
                        shutil.rmtree(tmp, ignore_errors=True)
                        break
                    shutil.rmtree(drop_zone, ignore_errors=True)
                    try:
                        os.rename(tmp, drop_zone)
                        break
                    except OSError:
                        continue
                else:
                    raise RuntimeError(
                        f"could not stage {drop_zone}: repeated rename "
                        "contention without a completed stage appearing"
                    )
        except BaseException:
            # a failed write (or failed repair-rename) must not strand a
            # table-sized partial copy under the shared temp dir
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    return drop_zone


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (1 file per microbatch
    in tests; at scale this is the same code over a Kafka/file drop-zone
    source — only the ``format`` changes). See
    :func:`_stage_stream_source` for the staging contract."""
    drop_zone = _stage_stream_source(spark, "events", sf_dir, n_files=1)
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_zone)
    )


def stream_tumbling(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q50: watermarked 1-hour tumbling counts.

    The watermark bounds state: windows older than max(event time) −
    1 hour are finalized and evicted; later-arriving events for them are
    dropped (late-data policy under test in tests/test_streaming.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _sum_value_cents())
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def stream_session(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization with the native session_window operator
    (30-min gap, matching q52's batch twin)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_user_counts(events: DataFrame) -> DataFrame:
    """Streaming per-user totals (complete-mode aggregation) — the
    bounded-state streaming form of q53's final state."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("total_events"),
        _sum_value_cents("total_value"),
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain the stream with an availableNow trigger into a memory sink
    and return the result as a batch DataFrame (the SURVEY.md §5
    batch-vs-stream verification harness). ``output_mode='append'`` for
    non-aggregated streams (enrichment/filter pipelines), where complete
    mode is not allowed."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # .table(), not interpolated SQL: query names are caller-chosen and
    # need no identifier quoting this way
    return stream_df.sparkSession.table(query_name)


def _clean_stale_batches(spark: SparkSession, out_dir: str,
                         checkpoint_dir: str) -> None:
    """A FRESH run (no offsets in the checkpoint) must not inherit
    ``batch=N`` directories from a previous run into the same
    ``out_dir`` — a shorter rerun would leave the old tail in place and
    ``spark.read.parquet(out_dir)`` would union stale rows in. A RESUMED
    run (offsets present) keeps everything: its replayed batch ids
    overwrite their own directories, which is the idempotence contract.

    Deletion is scoped to ``batch=*`` subdirectories ONLY — this sink's
    own naming scheme — never the whole tree: a lost/rotated checkpoint
    is a routine ops event, and an out_dir that also holds unrelated
    files (another query's output, a user's scratch data) must not be
    collateral damage of this query's fresh start.

    Filesystem access goes through the Hadoop FileSystem API resolved
    from each path's own scheme — the sinks are documented as the
    production warehouse-landing pattern, and an ``os.path`` guard would
    silently NO-OP on ``hdfs://``/``s3a://`` out_dirs, letting exactly
    the stale-tail corruption this function exists to prevent through."""
    import re

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path

    offsets = HPath(checkpoint_dir.rstrip("/") + "/offsets")
    if offsets.getFileSystem(hconf).exists(offsets):
        return  # resumed run: replayed batch ids overwrite themselves
    out = HPath(out_dir)
    fs = out.getFileSystem(hconf)
    if not fs.exists(out):
        return
    for st in fs.listStatus(out):
        if st.isDirectory() and re.fullmatch(
            r"batch=\d+", st.getPath().getName()
        ):
            fs.delete(st.getPath(), True)


def stream_to_parquet(stream_df: DataFrame, out_dir: str, checkpoint_dir: str,
                      query_name: str = "to_parquet",
                      output_mode: str = "complete"):
    """foreachBatch parquet sink: the production pattern for landing
    streaming aggregates in a warehouse (idempotent per epoch via the
    checkpointed batch id; swap the write body for MERGE INTO on a
    lakehouse). Snapshot per microbatch, partitioned dirs by batch for
    replay-ability; ``output_mode='append'`` for non-aggregated streams
    (enrichment/filter pipelines), where complete mode is rejected.
    ``out_dir`` is owned by this query: a fresh run (new checkpoint)
    clears it first so stale ``batch=N`` dirs from prior runs cannot
    leak into reads.

    CONSUMPTION CONTRACT: in complete mode every ``batch=N`` dir is a
    FULL snapshot, so ``spark.read.parquet(out_dir)`` would union all
    snapshots and multiply-count every row — read only the LAST batch
    (:func:`read_latest_batch`). In append mode the dirs are disjoint
    deltas and the union-read is the correct one."""
    _clean_stale_batches(stream_df.sparkSession, out_dir, checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )


def read_latest_batch(spark: SparkSession, out_dir: str) -> DataFrame:
    """The final snapshot of a complete-mode :func:`stream_to_parquet`
    sink: the highest ``batch=N`` dir, sorted NUMERICALLY (lexicographic
    picks batch=9 over batch=10). Raises if no batch was written.

    Listing goes through the Hadoop FileSystem API resolved from the
    path's own scheme — the same rationale as
    :func:`_clean_stale_batches`: the sink is documented as the
    warehouse-landing pattern, and an ``os.listdir`` here would raise
    FileNotFoundError on the very ``hdfs://``/``s3a://`` out_dirs the
    sink targets, making the prescribed last-snapshot read unusable
    exactly where it matters."""
    import re

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    out = HPath(out_dir)
    fs = out.getFileSystem(hconf)
    batches = sorted(
        (
            st.getPath().getName()
            for st in (fs.listStatus(out) if fs.exists(out) else [])
            if st.isDirectory()
            and re.fullmatch(r"batch=\d+", st.getPath().getName())
        ),
        key=lambda n: int(n.split("=")[1]),
    )
    if not batches:
        raise FileNotFoundError(f"no batch=N dirs under {out_dir}")
    return spark.read.parquet(out_dir.rstrip("/") + "/" + batches[-1])


def stream_enrich_static(
    events: DataFrame, dim: DataFrame, on: str = "event_type", how: str = "inner"
) -> DataFrame:
    """Stream-static enrichment: join a live stream against a batch
    dimension/rules table (thresholds, feature flags, reference data).
    The static side is re-planned per microbatch — a restart picks up a
    refreshed table — and is explicitly broadcast, so each microbatch is
    a map-side hash join with no shuffle of the stream and no streaming
    state. The canonical use here: apply q111's batch-computed p99 cut
    table to the event stream for online anomaly flagging
    (test_stream_enrich_anomalies_equals_batch)."""
    return events.join(F.broadcast(dim), on, how)


def _cents_accumulator():
    """Build THE batch accumulator for the stateful user-totals pair —
    one (pdf, cnt, nval, cents) -> (cnt, nval, cents) step applying the
    module's exact-cents discipline: HALF_UP (away from zero) like
    Spark's F.round in the batch twin — pandas .round() is half-even and
    would disagree on exactly-representable ties (e.g. 20.625*100 ==
    2062.5); NULL values contribute 0 AND are counted separately (F.sum
    skips nulls but returns NULL for an ALL-null group, so the emit
    sites key on nval; a bare astype would raise on NaN and kill the
    stream). ONE definition consumed by both stateful operators
    (applyInPandasWithState and transformWithStateInPandas) so their
    promised batch≡stream equality cannot drift apart on the rounding
    rule. Returned as a NESTED function: the stateful closures capture
    it by value (cloudpickle ships module-level functions by reference,
    which breaks executors running outside the repo — the module's
    self-containment rule)."""

    def acc(pdf, cnt: int, nval: int, cents: int):
        import numpy as np

        c = pdf["value"].to_numpy(dtype="float64") * 100.0
        nn = ~np.isnan(c)
        c = np.where(nn, np.sign(c) * np.floor(np.abs(c) + 0.5), 0.0)
        return cnt + int(len(pdf)), nval + int(nn.sum()), cents + int(c.sum())

    return acc


def stream_stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum) held in explicit GroupState and emitted every
    microbatch — the general-purpose surface for state machines that
    windowed aggregation cannot express (the SURVEY §2.3 "stateful
    running count per user" bullet, done with user-managed state).

    Scale: state is one (long, long) pair per active user, partitioned
    by the group key across the cluster; ProcessingTimeTimeout would
    evict idle users in a real deployment (NoTimeout keeps the test
    deterministic). State holds INTEGER CENTS, not a float sum — the
    module-wide exact-cents discipline (see :func:`_sum_value_cents`):
    a float accumulator drifts with microbatch order, so batch-vs-stream
    equality would only hold to the last ULPs; cents are exact under any
    order, converted to dollars once on emit."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    _acc = _cents_accumulator()  # shared HALF_UP cents rule — see factory

    def update(key, pdfs, state):
        import pandas as pd

        cnt, nval, cents = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            cnt, nval, cents = _acc(pdf, cnt, nval, cents)
        state.update((cnt, nval, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_events": [cnt],
             # nullable Float64 so the no-non-null-value case emits a
             # true SQL NULL (np.nan would survive as NaN, which Spark
             # treats as a value, not a null)
             "total_value": pd.array(
                 [cents / 100.0 if nval else None], dtype="Float64"
             )}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, total_events long, total_value double",
        stateStructType="count long, n_vals long, total_cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_interval_join(events_a: DataFrame, events_b: DataFrame,
                         watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: pairs of same-user events within
    10 minutes (the streaming twin of batch q27). Both sides carry
    watermarks and the join condition time-bounds the buffered state, so
    each side's join buffer holds at most watermark+interval of data —
    the textbook bounded-state stream-stream join."""
    a = events_a.withWatermark("ts", watermark).select(
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_id"),
    )
    b = events_b.withWatermark("ts", watermark).select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_id"),
    )
    return a.join(
        b,
        F.expr(
            "a_user = b_user AND b_ts > a_ts AND b_ts <= a_ts + INTERVAL 10 MINUTES"
        ),
    )


def stream_dedup(events: DataFrame, keys: list[str] | None = None,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming deduplication: first arrival per key wins, with state
    bounded by the watermark (dropDuplicatesWithinWatermark) — exact
    dedup as a continuous operator, the streaming face of q35.

    Scale: state holds one entry per distinct key seen within the
    watermark horizon, evicted as event time advances — the property
    that makes exact dedup feasible on an unbounded stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_tws_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) on transformWithStateInPandas —
    Spark 4's successor to applyInPandasWithState (same semantics as
    stream_stateful_user_totals, new API): typed ValueState handles,
    explicit processor lifecycle (init/handleInputRows/close), timer
    support, and a RocksDB-backed state store.

    Scale: identical state footprint to the GroupState version (one
    (long, long) integer-cents pair per user — the exact-cents
    discipline, see stream_stateful_user_totals — partitioned by key);
    RocksDB keeps
    hot state off-heap and incremental-checkpoints to the stream's
    checkpoint location — the state backend built for billions of keys.

    The processor class is defined inside this function deliberately:
    module-level classes cloudpickle by *reference* and fail to import
    on executors whose working directory is not the repo (the driver
    contract runs from an arbitrary cwd)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _acc = _cents_accumulator()  # shared HALF_UP cents rule — see factory

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "count long, n_vals long, total_cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cnt, nval, cents = (
                self._totals.get() if self._totals.exists() else (0, 0, 0)
            )
            for pdf in rows:
                cnt, nval, cents = _acc(pdf, cnt, nval, cents)
            self._totals.update((cnt, nval, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "total_events": [cnt],
                 "total_value": pd.array(
                     [cents / 100.0 if nval else None], dtype="Float64"
                 )}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, total_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def read_documents_stream(spark: SparkSession, sf_dir: str,
                          n_files: int = 4) -> DataFrame:
    """File-source stream over the documents table, staged as ``n_files``
    parquet files so availableNow drains it in ``n_files`` microbatches —
    the ingestion-side stand-in for a crawl drop-zone. See
    :func:`_stage_stream_source` for the staging contract."""
    drop_zone = _stage_stream_source(spark, "documents", sf_dir, n_files)
    return (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_zone)
    )


def stream_dedup_against_index(docs_stream: DataFrame, index_path: str,
                               out_dir: str, checkpoint_dir: str,
                               query_name: str = "stream_lsh_dedup"):
    """Streaming ingestion dedup: every microbatch of incoming documents
    is checked against the PERSISTED corpus LSH index (see
    ``dedup.write_lsh_index``) and its near-dup candidate pairs are
    appended to ``out_dir`` — the production shape for deduplicating a
    live crawl against an existing corpus without recomputing corpus
    signatures.

    foreachBatch is the right hook (not a stream-static join on the raw
    frame) because each batch needs the full signature pipeline —
    shingle → MinHash → banding — which contains aggregations that a
    single streaming query could not chain ahead of a join. Per-batch
    work: the batch's own signature pass + one map-side broadcast probe
    of the index. Idempotence: each batch OVERWRITES its own
    ``batch=<id>`` partition directory, so a foreachBatch replay after a
    crash (at-least-once delivery) rewrites the same rows instead of
    appending duplicates — read the result with
    ``spark.read.parquet(out_dir)`` (the batch column is metadata).
    ``out_dir`` is owned by this query: a FRESH run (new checkpoint)
    clears it first, so a shorter rerun cannot leave a stale ``batch=N``
    tail from a prior run mixed into reads; a RESUMED run keeps it and
    relies on per-batch overwrite."""
    from mapreduce_framework_simple_spark.ephemeral import cache_scope
    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
    )

    _clean_stale_batches(docs_stream.sparkSession, out_dir, checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # cache_scope per microbatch: incremental_lsh_candidates
        # scoped-caches its batch band frame and drop-bucket list, and
        # INSIDE a stream no query boundary ever fires release_caches()
        # — without the scope, the registry and executor cache storage
        # grow by two dead frames per microbatch for the stream's
        # lifetime. The write below is the scope's materializing action,
        # so releasing at exit frees only dead weight.
        with cache_scope():
            cands = incremental_lsh_candidates(
                batch_df.sparkSession, batch_df, index_path
            )
            cands.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )

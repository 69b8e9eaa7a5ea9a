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

import atexit
import os
import re
import shutil
import tempfile

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

# (src, n_files) -> (deep input fingerprint of src, stage dir, data file sizes)
_STAGES: dict[tuple[str, int], tuple[str, str, dict[str, int]]] = {}


def _reap_stages(exiting: bool = False) -> None:
    """Remove each ``mfss_stage_<pid>_*`` directory whose process is dead
    and, when ``exiting`` (the exit hook), this process's own."""
    for d in os.listdir(tempfile.gettempdir()):
        m = re.match(r"mfss_stage_(\d+)_", d)
        if m is None:
            continue
        pid = int(m.group(1))
        dead = exiting  # this process's own stages go only at exit
        if pid != os.getpid():
            try:
                os.kill(pid, 0)
                dead = False
            except OSError as e:  # EPERM: alive under another uid
                dead = isinstance(e, ProcessLookupError)
        if dead:
            shutil.rmtree(os.path.join(tempfile.gettempdir(), d),
                          ignore_errors=True)


def _stage_stream_source(spark: SparkSession, table: str, sf_dir: str,
                         n_files: int) -> str:
    """Copy a table through :func:`load_table` into a directory of
    ``n_files`` parquet files (the file stream source reads directories
    only) private to this process and removed at its exit. A repeat call
    returns it with no Spark job; a rewritten source gets a new stage, a
    stage whose data files changed is rewritten in place."""
    from mapreduce_framework_simple_spark.ephemeral import _input_fingerprint

    def data_sizes(zone: str) -> dict[str, int]:
        return {f: os.path.getsize(os.path.join(zone, f))
                for f in os.listdir(zone) if not f.startswith(("_", "."))}

    src = os.path.join(sf_dir, f"{table}.parquet")
    sig = _input_fingerprint(src, spark)
    if sig == "nostat":  # a stable sentinel: it would hide every rewrite
        raise FileNotFoundError(f"stream source {src!r} is missing or unreadable")
    _reap_stages()
    atexit.unregister(_reap_stages)  # keep exactly one exit hook
    atexit.register(_reap_stages, True)
    old = _STAGES.get((src, n_files))
    if old is not None and old[0] == sig:
        zone = old[1]
        if os.path.isdir(zone) and data_sizes(zone) == old[2]:
            return zone
    else:
        if old is not None:
            shutil.rmtree(old[1], ignore_errors=True)
        zone = tempfile.mkdtemp(
            prefix=f"mfss_stage_{os.getpid()}_{table}_n{n_files}_")
    load_table(spark, table, sf_dir).repartition(n_files).write.mode(
        "overwrite").parquet(zone)
    _STAGES[(src, n_files)] = (sig, zone, data_sizes(zone))
    return zone


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, one file per microbatch.
    The table is read from a copy private to this process
    (:func:`_stage_stream_source`), so a checkpoint over this stream
    resumes only in the process that opened it. A real drop-zone (a
    directory or Kafka) is read in place; only the ``format`` changes."""
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

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        cnt, nval, cents = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            # HALF_UP (away from zero) like Spark's F.round in the batch
            # twin — pandas .round() is half-even and would disagree on
            # exactly-representable ties (e.g. 20.625*100 == 2062.5);
            # NULL values contribute 0 AND are counted separately (F.sum
            # returns NULL for an ALL-null group, so the emit keys on
            # nval; a bare astype would raise on NaN and kill the stream)
            c = pdf["value"].to_numpy(dtype="float64") * 100.0
            nn = ~np.isnan(c)
            c = np.where(nn, np.sign(c) * np.floor(np.abs(c) + 0.5), 0.0)
            cnt, nval, cents = cnt + len(pdf), nval + int(nn.sum()), cents + int(c.sum())
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


def read_documents_stream(spark: SparkSession, sf_dir: str,
                          n_files: int = 4) -> DataFrame:
    """File-source stream over the documents table, staged as ``n_files``
    parquet files so availableNow drains it in ``n_files`` microbatches —
    the ingestion-side stand-in for a crawl drop-zone. Like
    :func:`read_events_stream`, it reads a copy private to this process:
    a checkpoint over it resumes only in that process."""
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

"""Structured Streaming verification (SURVEY.md §5 protocol): every
streaming pipeline is checked against its batch twin via availableNow,
and watermark late-data drop is exercised with a multi-batch file source.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mapreduce_framework_simple_spark.sources.io import SCHEMAS, load_table
from mapreduce_framework_simple_spark.streaming.windows import (
    q50_tumbling_window,
    q52_session_window,
    read_events_stream,
    run_available_now,
    stream_session,
    stream_tumbling,
    stream_user_counts,
)


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = stream_tumbling(read_events_stream(spark, sf_dir))
    got = run_available_now(stream, "t_tumbling").toPandas()
    want = q50_tumbling_window(spark, sf_dir).toPandas()
    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    # keys compared too: a uniform window shift (tz/offset bug) keeps the
    # sorted value sequences identical while every window key is wrong
    assert (got[key].values == want[key].values).all()
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert abs(got["sum_value"].to_numpy() - want["sum_value"].to_numpy()).max() < 1e-6


def test_stream_session_equals_batch_twin(spark, sf_dir):
    """session_window (streaming) must produce the same number of sessions
    per user, with the same event counts, as the gaps-and-islands batch
    twin (q52)."""
    stream = stream_session(read_events_stream(spark, sf_dir))
    got = run_available_now(stream, "t_session").toPandas()
    want = q52_session_window(spark, sf_dir).toPandas()
    g = got.groupby("user_id")["n_events"].agg(["count", "sum"]).sort_index()
    w = want.groupby("user_id")["n_events"].agg(["count", "sum"]).sort_index()
    assert (g["count"] == w["count"]).all(), "session counts per user differ"
    assert (g["sum"] == w["sum"]).all(), "events per user differ"


def test_stream_user_counts_equals_batch(spark, sf_dir):
    got = run_available_now(
        stream_user_counts(read_events_stream(spark, sf_dir)), "t_ucount"
    ).toPandas()
    want = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("total_events"))
        .toPandas()
    )
    g = got.set_index("user_id")["total_events"].sort_index()
    w = want.set_index("user_id")["total_events"].sort_index()
    assert (g == w).all()


@pytest.fixture()
def late_data_dir(spark, tmp_path):
    """Three-file drop zone: batch 0 carries hours 0-8 of day 1 plus a
    max-ts sentinel (day 2) that advances the watermark far ahead;
    batch 1 is a filler event (the late-record filter runs on the
    PREVIOUS trigger's watermark, so the sentinel only becomes effective
    for filtering one batch later); batch 2 is a LATE event back in
    hour 1 — far beyond the 1 h watermark, so it must be dropped."""
    d = str(tmp_path / "events_stream")
    os.makedirs(d)
    rows1 = [
        (i, f"2024-01-01 0{h}:15:00", 1, "view", 1.0, "{}")
        for i, h in enumerate(range(0, 9))
    ] + [(100, "2024-01-02 00:00:00", 1, "view", 1.0, "{}")]
    rows2 = [(150, "2024-01-02 00:30:00", 1, "view", 1.0, "{}")]
    rows3 = [(200, "2024-01-01 01:20:00", 1, "view", 1.0, "{}")]
    for i, rows in enumerate([rows1, rows2, rows3]):
        df = spark.createDataFrame(
            [(r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/batch{i}")
    # flatten into one dir; FileStreamSource orders by modification time,
    # so force strictly increasing mtimes
    out = str(tmp_path / "flat")
    os.makedirs(out)
    for i in range(3):
        src = [f for f in os.listdir(f"{d}/batch{i}") if f.endswith(".parquet")][0]
        dst = f"{out}/part-{i:05d}.parquet"
        shutil.copy(f"{d}/batch{i}/{src}", dst)
        os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))
    return out


def test_watermark_drops_late_events(spark, late_data_dir):
    """Append-mode tumbling count with a 1 h watermark: the hour-01 window
    closes once the watermark passes (batch 1's sentinel pushes it to
    day 2), so batch 2's late hour-01 event must NOT be counted."""
    events = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(late_data_dir)
    )
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.sql(
        "SELECT n FROM t_late WHERE window_start = TIMESTAMP '2024-01-01 01:00:00'"
    ).collect()
    assert len(res) == 1
    assert res[0]["n"] == 1, "late event leaked into a closed window"


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch sink lands the final streaming aggregate in parquet,
    matching the batch answer."""
    from mapreduce_framework_simple_spark.streaming.windows import stream_to_parquet

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_to_parquet(
        stream_user_counts(read_events_stream(spark, sf_dir)), out, ckpt
    )
    q.awaitTermination()
    # complete-mode consumption contract: only the LAST batch dir is the
    # answer (every batch=N is a full snapshot) — via the public helper
    from mapreduce_framework_simple_spark.streaming.windows import read_latest_batch

    final = read_latest_batch(spark, out).toPandas()
    want = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("total_events"))
        .toPandas()
    )
    g = final.set_index("user_id")["total_events"].sort_index()
    w = want.set_index("user_id")["total_events"].sort_index()
    assert (g == w).all()


def test_stateful_apply_in_pandas_with_state(spark, sf_dir):
    """Custom GroupState operator: final per-user totals equal the batch
    answer (single microbatch over the staged file; state carries the
    running pair)."""
    from mapreduce_framework_simple_spark.streaming.windows import (
        stream_stateful_user_totals,
    )

    stream = stream_stateful_user_totals(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT user_id, max(total_events) AS total_events, max(total_value) AS total_value "
        "FROM t_stateful GROUP BY user_id"
    ).toPandas()
    want = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("total_events"), F.sum("value").alias("total_value"))
        .toPandas()
    )
    g = got.set_index("user_id").sort_index()
    w = want.set_index("user_id").sort_index()
    assert (g["total_events"] == w["total_events"]).all()
    assert (abs(g["total_value"] - w["total_value"]) < 1e-6).all()


def test_stateful_totals_all_null_group_emits_null(spark, tmp_path):
    """F.sum skips NULLs but returns NULL (not 0) for an ALL-null group;
    the stateful operator must match — a null-as-zero accumulator would
    silently emit 0.0 for exactly that key and break the batch≡stream
    contract."""
    import pandas as pd

    from mapreduce_framework_simple_spark.sources.io import SCHEMAS
    from mapreduce_framework_simple_spark.streaming.windows import (
        stream_stateful_user_totals,
    )

    src = tmp_path / "events_allnull"
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.Timestamp("2024-01-01"),
            "user_id": [1, 1, 2, 2],  # user 1: all-null; user 2: mixed
            "event_type": "view",
            "value": [None, None, None, 2.5],
            "props": "{}",
        }
    )
    spark.createDataFrame(pdf, SCHEMAS["events"]).write.parquet(str(src))
    stream = stream_stateful_user_totals(
        spark.readStream.schema(SCHEMAS["events"]).parquet(str(src))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_allnull")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.sql("SELECT * FROM t_allnull")
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert got.loc[1, "total_events"] == 2
    assert pd.isna(got.loc[1, "total_value"]), "all-null group must be NULL"
    assert got.loc[2, "total_events"] == 2
    assert abs(got.loc[2, "total_value"] - 2.5) < 1e-9


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join produces exactly the batch q27 pairs."""
    from mapreduce_framework_simple_spark.operators.relational import q27_range_join
    from mapreduce_framework_simple_spark.streaming.windows import (
        stream_interval_join,
    )

    joined = stream_interval_join(
        read_events_stream(spark, sf_dir), read_events_stream(spark, sf_dir)
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT a_user AS user_id, count(*) AS n_pairs FROM t_ssjoin GROUP BY a_user"
    ).toPandas()
    want = q27_range_join(spark, sf_dir).toPandas()
    g = got.set_index("user_id")["n_pairs"].sort_index()
    w = want.set_index("user_id")["n_pairs"].sort_index()
    assert (g == w).all(), "stream-stream join diverged from batch range join"


def test_stream_dedup_drops_duplicates(spark, sf_dir, tmp_path):
    """Duplicated input stream → dedup stream emits each event_id once,
    matching the batch distinct."""
    from mapreduce_framework_simple_spark.streaming.windows import stream_dedup

    # drop zone with the events file duplicated (2 identical batches)
    src = load_table(spark, "events", sf_dir)
    d = str(tmp_path / "dup_zone")
    src.coalesce(1).write.mode("overwrite").parquet(d + "/tmp1")
    import shutil

    os.makedirs(d + "/zone")
    f = [x for x in os.listdir(d + "/tmp1") if x.endswith(".parquet")][0]
    for i in range(2):
        shutil.copy(f"{d}/tmp1/{f}", f"{d}/zone/part-{i:05d}.parquet")
        os.utime(f"{d}/zone/part-{i:05d}.parquet", (1_000_000 + i * 100,) * 2)
    events = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/zone")
    )
    q = (
        stream_dedup(events)
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) n, count(DISTINCT event_id) d FROM t_dedup").collect()[0]
    want = src.count()
    assert got["n"] == want, f"dedup emitted {got['n']} rows, expected {want}"
    assert got["d"] == want


def test_foreach_batch_checkpoint_idempotent(spark, sf_dir, tmp_path):
    """Restarting an availableNow pipeline on the same checkpoint must be
    a no-op: offsets are committed, no batch re-fires, output unchanged
    (the exactly-once contract of checkpointed foreachBatch)."""
    from mapreduce_framework_simple_spark.streaming.windows import stream_to_parquet

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q1 = stream_to_parquet(
        stream_user_counts(read_events_stream(spark, sf_dir)), out, ckpt, "t_idem1"
    )
    q1.awaitTermination()
    batches_before = sorted(os.listdir(out), key=lambda n: int(n.split("=")[1]))
    first = spark.read.parquet(f"{out}/{batches_before[-1]}").toPandas()
    # second run, same checkpoint: no new batches may appear
    q2 = stream_to_parquet(
        stream_user_counts(read_events_stream(spark, sf_dir)), out, ckpt, "t_idem2"
    )
    q2.awaitTermination()
    batches_after = sorted(os.listdir(out), key=lambda n: int(n.split("=")[1]))
    assert batches_after == batches_before, "restart re-fired committed batches"
    second = spark.read.parquet(f"{out}/{batches_after[-1]}").toPandas()
    assert first.sort_values("user_id").reset_index(drop=True).equals(
        second.sort_values("user_id").reset_index(drop=True)
    )


def test_stream_enrich_anomalies_equals_batch(spark, sf_dir):
    """Stream-static broadcast enrichment: the batch-computed p99 cut
    table applied to the live event stream must flag exactly the events
    the batch query (q111) flags."""
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators.relational import (
        q111_event_anomalies,
    )
    from mapreduce_framework_simple_spark.sources.io import load_table
    from mapreduce_framework_simple_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
        stream_enrich_static,
    )

    cuts = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(F.percentile("value", 0.99).alias("p99"))
    )
    flagged = stream_enrich_static(
        read_events_stream(spark, sf_dir), cuts
    ).where(F.col("value") > F.col("p99")).select("event_id")
    got = sorted(
        run_available_now(flagged, "t_enrich", output_mode="append")
        .toPandas()["event_id"]
        .tolist()
    )
    want = sorted(q111_event_anomalies(spark, sf_dir).toPandas()["event_id"].tolist())
    assert got == want and len(got) > 0


def test_stream_dedup_against_index_equals_batch(spark, sf_dir, tmp_path):
    """Micro-batched ingestion dedup against the persisted LSH index must
    find exactly the candidate pairs the one-shot batch probe finds,
    regardless of how the stream chops the new docs into batches."""
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
        write_lsh_index,
    )
    from mapreduce_framework_simple_spark.sources.io import load_table
    from mapreduce_framework_simple_spark.streaming.windows import (
        read_documents_stream,
        stream_dedup_against_index,
    )

    docs = load_table(spark, "documents", sf_dir)
    cut = 400
    old = docs.where(F.col("doc_id") < cut)
    idx = str(tmp_path / "idx")
    write_lsh_index(old, idx)

    stream = read_documents_stream(spark, sf_dir).where(F.col("doc_id") >= cut)
    out = str(tmp_path / "cands")
    q = stream_dedup_against_index(stream, idx, out, str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in incremental_lsh_candidates(
            spark, docs.where(F.col("doc_id") >= cut), idx
        ).collect()
    }
    assert got == want and len(want) > 0


def test_clean_stale_batches_scoped_to_batch_dirs(spark, tmp_path):
    """A fresh run's stale-output cleanup removes ONLY this sink's own
    ``batch=N`` directories — never unrelated files sharing out_dir (a
    lost/rotated checkpoint is a routine ops event and must not become
    silent data loss for neighbors), and never anything when the
    checkpoint has offsets (resume keeps everything). Paths resolve
    through the Hadoop FileSystem API so the guard also holds on
    hdfs://-style out_dirs, not just the local FS."""
    from mapreduce_framework_simple_spark.streaming.windows import (
        _clean_stale_batches,
    )

    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    for d in ["batch=0", "batch=12", "other_data", "batch=notanum"]:
        (out / d).mkdir(parents=True)
    (out / "notes.txt").write_text("keep me")
    ckpt.mkdir()

    # fresh run (no offsets dir): batch=N dirs go, everything else stays
    _clean_stale_batches(spark, str(out), str(ckpt))
    assert sorted(os.listdir(out)) == ["batch=notanum", "notes.txt", "other_data"]

    # resumed run (offsets present): nothing is touched
    (out / "batch=3").mkdir()
    (ckpt / "offsets").mkdir()
    _clean_stale_batches(spark, str(out), str(ckpt))
    assert (out / "batch=3").is_dir()

    # scheme-qualified paths resolve through the same Hadoop FS route
    (ckpt / "offsets").rmdir()
    (out / "batch=4").mkdir()
    _clean_stale_batches(spark, f"file://{out}", f"file://{ckpt}")
    assert not (out / "batch=4").exists()
    assert (out / "notes.txt").exists()


def test_stage_stream_source_repairs_broken_stage(spark, sf_dir):
    """A stage that lost a data file (and its _SUCCESS marker) is
    rewritten IN PLACE by the next staging call, with every row back —
    never returned truncated."""
    import os

    from mapreduce_framework_simple_spark.streaming.windows import (
        _stage_stream_source,
    )

    zone = _stage_stream_source(spark, "events", sf_dir, n_files=1)
    marker = os.path.join(zone, "_SUCCESS")
    assert os.path.exists(marker)
    n_good = spark.read.parquet(zone).count()
    assert n_good > 0

    # simulate the broken stage: marker gone, a data file gone too
    os.remove(marker)
    parts = [f for f in os.listdir(zone) if f.endswith(".parquet")]
    os.remove(os.path.join(zone, parts[0]))

    zone2 = _stage_stream_source(spark, "events", sf_dir, n_files=1)
    assert zone2 == zone
    assert os.path.exists(marker)  # re-staged, marker restored
    assert spark.read.parquet(zone2).count() == n_good  # full data back


def _write_events(part_dir, values) -> None:
    import pandas as pd

    pd.DataFrame(
        {"event_id": range(len(values)), "user_id": [1] * len(values),
         "event_type": ["view"] * len(values),
         "ts": pd.Timestamp("2024-01-01"), "value": values}
    ).to_parquet(part_dir / "data.parquet")


def test_stage_stream_source_gcs_superseded_and_keys_recursively(
    spark, tmp_path
):
    """Two contracts of the deep source fingerprint: (a) a rewrite INSIDE
    a partition subdir (top-level names unchanged) must stage a NEW
    directory holding the new rows — a one-level listing would stream
    the stale corpus; (b) the superseded stage must be removed, not
    orphaned in /tmp (one full table copy per testdata regeneration)."""
    import os

    from mapreduce_framework_simple_spark.streaming.windows import (
        _stage_stream_source,
    )

    part = tmp_path / "sf" / "events.parquet" / "day=1"
    part.mkdir(parents=True)
    _write_events(part, [1.0, 2.0])
    zone1 = _stage_stream_source(spark, "events", str(tmp_path / "sf"), 1)
    assert os.path.isdir(zone1)
    _write_events(part, [1.0, 2.0, 3.0])  # nested rewrite
    zone2 = _stage_stream_source(spark, "events", str(tmp_path / "sf"), 1)
    assert zone2 != zone1, "nested rewrite did not restage"
    assert spark.read.parquet(zone2).count() == 3
    assert not os.path.exists(zone1), "superseded stage was not removed"


def test_stage_stream_source_nfiles_scopes_coexist(spark, sf_dir):
    """The SAME source staged at two fan-outs (n_files=1 vs 2) yields two
    COEXISTING stages: restaging one never removes the other. Stage
    directories of the older shared-/tmp layout (``mfss_stream_*``) are
    neither read nor deleted."""
    import os
    import shutil
    import tempfile

    from mapreduce_framework_simple_spark.streaming.windows import (
        _stage_stream_source,
    )

    old_layout = tempfile.mkdtemp(prefix="mfss_stream_0_events_")
    try:
        z1 = _stage_stream_source(spark, "events", sf_dir, n_files=1)
        z2 = _stage_stream_source(spark, "events", sf_dir, n_files=2)
        assert z1 != z2
        assert _stage_stream_source(spark, "events", sf_dir, n_files=1) == z1
        assert os.path.exists(os.path.join(z1, "_SUCCESS"))
        assert os.path.exists(os.path.join(z2, "_SUCCESS")), \
            "restaging n_files=1 removed the n_files=2 stage"
        assert len([f for f in os.listdir(z2) if f.endswith(".parquet")]) == 2
        assert os.path.isdir(old_layout), "an old-layout directory was removed"
    finally:
        shutil.rmtree(old_layout, ignore_errors=True)


def test_stage_stream_source_repeat_call_runs_no_job(spark, tmp_path):
    """Two calls in one process return the same stage, and the second
    runs no Spark job (a checkpointed restart in the same process reads
    the very files it committed offsets for)."""
    from mapreduce_framework_simple_spark.streaming.windows import (
        _stage_stream_source,
    )

    part = tmp_path / "sf" / "events.parquet"
    part.mkdir(parents=True)
    _write_events(part, [1.0, 2.0])
    sc = spark.sparkContext
    jobs = []
    try:
        zones = []
        for group in ("stage-first", "stage-repeat"):
            sc.setJobGroup(group, "staging job count")
            zones.append(_stage_stream_source(spark, "events", str(tmp_path / "sf"), 1))
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert zones[0] == zones[1]
    assert jobs[0] >= 1, "the first call must write the stage"
    assert jobs[1] == 0, "the repeat call ran a Spark job"


def test_stage_stream_source_reaps_dead_pid_tmp_dirs(spark, sf_dir):
    """A ``mfss_stage_<pid>_*`` directory left by a process that died
    without its exit hook (SIGKILL) is removed by the next staging call;
    one whose pid is alive is kept."""
    import os
    import shutil
    import tempfile

    from mapreduce_framework_simple_spark.streaming.windows import (
        _stage_stream_source,
    )

    # 2**22+7 is above the largest pid_max Linux allows: provably dead
    dead = tempfile.mkdtemp(prefix=f"mfss_stage_{2**22 + 7}_events_n1_")
    live = tempfile.mkdtemp(prefix=f"mfss_stage_{os.getppid()}_events_n1_")
    try:
        _stage_stream_source(spark, "events", sf_dir, n_files=1)
        assert not os.path.exists(dead), "dead-pid stage must be reaped"
        assert os.path.exists(live), "live-pid stage must survive"
    finally:
        shutil.rmtree(dead, ignore_errors=True)
        shutil.rmtree(live, ignore_errors=True)


def test_stage_stream_source_removed_at_exit(sf_dir):
    """A process that stages a stream and exits normally leaves no
    ``mfss_stage_<its pid>_*`` directory behind."""
    import glob
    import json
    import subprocess
    import sys
    import tempfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import json, os, sys
sys.path.insert(0, {repo!r})
from mapreduce_framework_simple_spark.session import get_session
from mapreduce_framework_simple_spark.streaming.windows import read_events_stream
spark = get_session("stage-exit", master="local[1]", shuffle_partitions=1)
read_events_stream(spark, {sf_dir!r})
print(json.dumps({{"pid": os.getpid(), "staged": len([
    d for d in os.listdir({tempfile.gettempdir()!r})
    if d.startswith(f"mfss_stage_{{os.getpid()}}_")])}}))
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], env=env, check=True,
                         capture_output=True, text=True, timeout=600)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["staged"] == 1, "the subprocess did not stage"
    left = glob.glob(os.path.join(tempfile.gettempdir(),
                                  f"mfss_stage_{got['pid']}_*"))
    assert left == [], f"stage outlived its process: {left}"

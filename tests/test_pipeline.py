"""End-to-end curation pipeline: audit invariants over the composed
operators (each stage is individually hash-verified by the oracle suite;
this asserts the COMPOSITION is coherent)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_framework_simple_spark.operators.dedup import norm_expr
from mapreduce_framework_simple_spark.pipeline import CONTAMINATION_MAX, curate


def test_curate_invariants(spark, sf_dir, tmp_path):
    out = str(tmp_path / "curated")
    rep = curate(spark, sf_dir, out)

    # every stage is monotone non-increasing
    assert (
        rep["n_total"]
        >= rep["n_after_quality"]
        >= rep["n_after_exact_dedup"]
        >= rep["n_after_neardup"]
        >= rep["n_curated"]
        > 0
    )
    # INDEPENDENT recomputation of the stage counters — the report's
    # dropped_* keys are defined as differences of these very counters,
    # so asserting the "telescoping" arithmetic was a tautology that
    # could never fail; fresh recomputation from the source corpus can
    from mapreduce_framework_simple_spark.operators.text import q98_gopher_rules
    from mapreduce_framework_simple_spark.sources.io import load_table as _lt

    assert rep["n_total"] == _lt(spark, "documents", sf_dir).count()
    assert rep["n_after_quality"] == (
        q98_gopher_rules(spark, sf_dir).where(F.col("keep")).count()
    )

    curated = spark.read.parquet(out)
    assert curated.count() == rep["n_curated"]
    # exact-dedup counter: survivors-of-quality grouped by normalized
    # hash, recomputed from scratch (not the report's own groupBy)
    gated_ids = q98_gopher_rules(spark, sf_dir).where(F.col("keep")).select("doc_id")
    gated = _lt(spark, "documents", sf_dir).join(gated_ids, "doc_id")
    assert rep["n_after_exact_dedup"] == (
        gated.groupBy(F.md5(norm_expr()).alias("h")).count().count()
    )

    # no exact-dup pair survives: normalized-text hashes are unique
    dup_groups = (
        curated.groupBy(F.md5(norm_expr()).alias("h"))
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup_groups == 0

    # no LSH near-dup candidate pair survives among the curated docs
    from mapreduce_framework_simple_spark.operators.dedup import (
        band_signatures_from,
        lsh_candidate_pairs,
    )

    assert lsh_candidate_pairs(band_signatures_from(curated)).count() == 0

    # no survivor exceeds the contamination cut
    from mapreduce_framework_simple_spark.operators.dedup import shingle_sets_from
    from mapreduce_framework_simple_spark.sources.io import load_table

    docs = load_table(spark, "documents", sf_dir)
    probe = (
        shingle_sets_from(docs)
        .where(F.col("doc_id") % 97 == 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    over = (
        shingle_sets_from(curated)
        .join(F.broadcast(probe), "shingle", "left")
        .groupBy("doc_id")
        .agg((F.count("hit") / F.count("*")).alias("c"))
        .where(F.col("c") > CONTAMINATION_MAX)
        .count()
    )
    assert over == 0


def test_curate_lsh_max_bucket_knob(spark, sf_dir, tmp_path, monkeypatch):
    """The hot-bucket cap reaches the near-dup stage: at cap=1 every
    bucket holding >=2 docs is dropped, so no LSH candidate pair can be
    emitted and the near-dup stage drops nothing — while the default cap
    drops real near-dups on the same corpus."""
    from mapreduce_framework_simple_spark.operators import dedup as D

    rep_default = curate(spark, sf_dir, str(tmp_path / "cur_a"))
    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 1)
    rep_cap1 = curate(spark, sf_dir, str(tmp_path / "cur_b"))
    assert rep_default["dropped_neardup"] > 0  # the cap has something to drop
    assert rep_cap1["dropped_neardup"] == 0
    # all other stages unaffected by the knob
    for k in ("n_total", "n_after_quality", "n_after_exact_dedup",
              "dropped_quality", "dropped_exact"):
        assert rep_cap1[k] == rep_default[k]


def test_curate_malformed_documents(spark, sf_dir, tmp_path):
    """A crawl with NULL, empty, whitespace-only and one-token texts plus
    an exact-duplicate pair: ``curate`` completes, its counts telescope,
    every blank or NULL document is a quality drop and none is written.
    On a small input most shuffle partitions are empty, so this also runs
    every stage over empty partitions."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(sf_dir, "documents.parquet")).slice(0, 40)
    rows = src.to_pylist()
    blank_ids = {1000, 1001, 1002}
    for doc_id, text in ((1000, None), (1001, ""), (1002, " \t\n "),
                         (1003, "spark")):
        rows.append(dict(rows[0], doc_id=doc_id, text=text,
                         n_chars=len(text or "")))
    rows.append(dict(rows[1], doc_id=1004))  # doc 1 passes the quality gate
    corpus = tmp_path / "sf"
    corpus.mkdir()
    pq.write_table(pa.Table.from_pylist(rows, schema=src.schema),
                   str(corpus / "documents.parquet"))

    out = str(tmp_path / "curated")
    rep = curate(spark, str(corpus), out)

    assert rep["n_total"] == len(rows)
    assert (rep["n_total"] >= rep["n_after_quality"] >= rep["n_after_exact_dedup"]
            >= rep["n_after_neardup"] >= rep["n_curated"] > 0)
    assert rep["n_total"] - rep["n_curated"] == (
        rep["dropped_quality"] + rep["dropped_exact"]
        + rep["dropped_neardup"] + rep["dropped_contaminated"])
    assert rep["dropped_exact"] >= 1, "the duplicate pair must collapse"

    from mapreduce_framework_simple_spark.operators.text import q98_gopher_rules

    dropped = {r["doc_id"] for r in q98_gopher_rules(spark, str(corpus))
               .where(~F.col("keep")).select("doc_id").collect()}
    assert blank_ids <= dropped
    assert rep["dropped_quality"] == len(dropped)
    written = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert len(written) == rep["n_curated"]
    assert not written & (blank_ids | {1003})
    assert 1004 not in written, "exact dedup keeps the lower doc_id"


def test_curate_job_count(spark, sf_dir, tmp_path):
    """A warm ``curate`` pass runs at most 39 Spark jobs: the quality
    gate filters the one cached corpus frame (no second ``documents``
    load, no keep-id join-back), ``n_total`` and ``n_after_quality``
    share one aggregate, and exact dedup joins its kept ids back once.
    Each job costs ~0.1-0.2 CPU-s of driver and JIT work whatever its
    data, so a stage that grows a job shows here first."""
    sc = spark.sparkContext
    out = str(tmp_path / "curated")
    curate(spark, sf_dir, out)  # cold: schema inference, codegen
    sc.setJobGroup("curate-job-count", "warm curate")
    try:
        curate(spark, sf_dir, out)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup("curate-job-count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs <= 39, f"curate ran {jobs} jobs"


def test_curate_empty_documents(spark, sf_dir, tmp_path):
    """A ``documents`` table with its schema and no rows: every count is
    0 (the gate's sum over zero rows is NULL, not 0) and the written
    corpus reads back with the documents columns and no rows."""
    import os

    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    corpus = tmp_path / "sf"
    corpus.mkdir()
    pq.write_table(src.slice(0, 0), str(corpus / "documents.parquet"))

    out = str(tmp_path / "curated")
    rep = curate(spark, str(corpus), out)

    assert rep == dict.fromkeys(rep, 0)
    assert all(type(v) is int for v in rep.values())
    written = spark.read.parquet(out)
    assert written.columns == src.column_names
    assert written.count() == 0

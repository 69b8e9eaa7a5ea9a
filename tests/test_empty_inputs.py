"""Degenerate-input robustness for library operators: empty frames must
yield empty (not crash) — the oracle suite can't cover this because the
testdata scale factors are never empty, but production batches are
(an empty crawl drop, a fully-filtered partition, a quiet stream window).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _empty_docs(spark):
    return spark.createDataFrame(
        [], T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
    )


def test_heavy_hitters_empty(spark):
    from mapreduce_framework_simple_spark.operators.text import heavy_hitters

    words = spark.createDataFrame([], T.StructType([T.StructField("word", T.StringType())]))
    assert heavy_hitters(words).count() == 0


def test_connected_components_empty_edges(spark):
    from mapreduce_framework_simple_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [], T.StructType([
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
        ])
    )
    assert connected_components(edges).count() == 0


def test_band_signatures_empty_docs(spark):
    from mapreduce_framework_simple_spark.operators.dedup import band_signatures_from

    assert band_signatures_from(_empty_docs(spark)).count() == 0


def test_incremental_candidates_empty_batch(spark, sf_dir, tmp_path):
    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
        write_lsh_index,
    )
    from mapreduce_framework_simple_spark.sources.io import load_table

    idx = str(tmp_path / "idx")
    write_lsh_index(load_table(spark, "documents", sf_dir), idx)
    assert incremental_lsh_candidates(spark, _empty_docs(spark), idx).count() == 0


def test_scrub_pii_empty_and_short_docs(spark):
    from mapreduce_framework_simple_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, ""), (2, "x"), (3, "a@b.co and 555-123-4567")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["n_pii"] for r in scrub_pii(df).collect()}
    assert out[1] == 0 and out[2] == 0 and out[3] == 2


def test_stream_enrich_static_empty_dim(spark, sf_dir):
    """An empty rules table must yield an empty inner-joined stream, not
    a broadcast failure."""
    from mapreduce_framework_simple_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
        stream_enrich_static,
    )

    dim = spark.createDataFrame(
        [], T.StructType([
            T.StructField("event_type", T.StringType()),
            T.StructField("p99", T.DoubleType()),
        ])
    )
    flagged = stream_enrich_static(read_events_stream(spark, sf_dir), dim).select(
        "event_id"
    )
    got = run_available_now(flagged, "t_empty_dim", output_mode="append")
    assert got.count() == 0


def test_incremental_candidates_empty_index(spark, tmp_path):
    """An index built from an EMPTY corpus (only _SUCCESS, no part files)
    must probe to zero candidates, not crash on schema inference."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
        write_lsh_index,
    )

    idx = str(tmp_path / "empty_idx")
    write_lsh_index(_empty_docs(spark), idx)
    batch = spark.createDataFrame([(1, "the quick brown fox jumps")], ["doc_id", "text"])
    assert incremental_lsh_candidates(spark, batch, idx).count() == 0


def test_lsh_candidate_pairs_empty_docs(spark):
    """The capped candidate rule (eager guard count included) must handle
    an empty corpus: no buckets, no drops, empty pair output."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        band_signatures_from,
        cap_hot_buckets,
        lsh_candidate_pairs,
    )

    bands = band_signatures_from(_empty_docs(spark))
    out = lsh_candidate_pairs(cap_hot_buckets(bands, "empty")[0])
    assert out.count() == 0
    assert out.columns == ["doc_a", "doc_b"]


def test_lsh_quality_report_empty_docs(spark):
    """q112's kernel on an empty frame: one row of zero counts and 0.0
    ratios (the CASE WHEN n=0 guards), not a crash."""
    from mapreduce_framework_simple_spark.operators.dedup import _lsh_quality_report

    row = _lsh_quality_report(_empty_docs(spark)).collect()[0]
    assert (row["n_truth"], row["n_candidates"], row["n_hit"]) == (0, 0, 0)
    assert (row["precision"], row["recall"]) == (0.0, 0.0)


def test_scoped_cache_release_and_scope(spark):
    """ephemeral: release_caches unpersists everything registered;
    cache_scope releases only its own suffix, leaving caches an
    enclosing consumer registered earlier untouched."""
    from mapreduce_framework_simple_spark import ephemeral

    ephemeral.release_caches()  # clean slate
    outer = ephemeral.scoped_cache(spark.range(10))
    outer.count()
    assert outer.storageLevel.useMemory
    with ephemeral.cache_scope():
        inner = ephemeral.scoped_cache(spark.range(20))
        inner.count()
        assert inner.storageLevel.useMemory
    assert not inner.storageLevel.useMemory  # scope released its suffix
    assert outer.storageLevel.useMemory      # enclosing cache untouched
    n = ephemeral.release_caches()
    assert n == 1
    assert not outer.storageLevel.useMemory
    assert ephemeral.release_caches() == 0   # registry drained


def test_release_local_checkpoint_frees_blocks(spark):
    """DataFrame.unpersist() is a CacheManager call that silently NO-OPS
    on a localCheckpoint (its blocks belong to the internal RDD behind
    the LogicalRDD plan) — release_local_checkpoint must free those
    blocks deterministically, and the scoped-release path (release_frame)
    must route checkpointed frames through it. Without this, fixpoint
    loops leak one node-sized block set per superseded round until a
    JVM GC lets the ContextCleaner catch up."""
    from mapreduce_framework_simple_spark import ephemeral

    jsc = spark.sparkContext._jsc.sc()
    ephemeral.release_caches()  # clean slate: an earlier test's scoped caches
    base = jsc.getPersistentRDDs().size()

    ck = spark.range(100).localCheckpoint(eager=True)
    assert jsc.getPersistentRDDs().size() == base + 1
    ck.unpersist(blocking=True)  # the documented no-op
    assert jsc.getPersistentRDDs().size() == base + 1
    assert ephemeral.release_local_checkpoint(ck)
    assert jsc.getPersistentRDDs().size() == base

    # a plain cached frame is NOT a LogicalRDD: the helper declines and
    # callers fall back to unpersist()
    plain = spark.range(10).cache()
    plain.count()
    assert not ephemeral.release_local_checkpoint(plain)
    plain.unpersist(blocking=True)

    # scoped_release + release_caches frees a checkpoint at the query
    # boundary (the path connected_components/pagerank final frames take)
    ck2 = ephemeral.scoped_release(spark.range(50).localCheckpoint(eager=True))
    assert jsc.getPersistentRDDs().size() == base + 1
    ephemeral.release_caches()
    assert jsc.getPersistentRDDs().size() == base


def test_components_distributed_loop_storage_hygiene(spark):
    """The distributed min-label fixpoint must hold O(1) frames, not
    O(rounds): superseded per-round localCheckpoints are freed inside
    the loop, and the final checkpoint is freed by the query-boundary
    release. A path graph (diameter 6) forces multiple rounds; after
    materialization + boundary release the session's persistent-RDD
    count returns to its baseline."""
    from mapreduce_framework_simple_spark import ephemeral
    from mapreduce_framework_simple_spark.operators.dedup import (
        connected_components,
    )

    ephemeral.release_caches()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long"
    )
    res = connected_components(edges, driver_edge_bound=0)
    got = {(r["doc_id"], r["component"]) for r in res.collect()}
    assert got == {(i, 0) for i in range(8)}  # one chain, min label 0
    # mid-flight state is bounded: final checkpoint + sym/pairs caches
    # at most — loop rounds must not have accumulated
    assert jsc.getPersistentRDDs().size() <= base + 3
    ephemeral.release_caches()
    assert jsc.getPersistentRDDs().size() == base


def test_pagerank_storage_hygiene(spark):
    """PageRank holds O(1) frames, not O(rounds): each round releases
    the superseded checkpoint through the handle whose plan is the
    LogicalRDD (release_local_checkpoint declines a projection of it,
    and unpersist() no-ops on a checkpoint, so releasing the projection
    would leak one checkpoint per round). Two rounds and six leave the
    same count, at most the final checkpoint, and the query-boundary
    release returns the session to its baseline."""
    from mapreduce_framework_simple_spark import ephemeral
    from mapreduce_framework_simple_spark.operators.iterative import pagerank

    ephemeral.release_caches()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)],
        "src long, dst long",
    )
    held = []
    for n_iter in (2, 6):
        ranks, deltas = pagerank(edges, n_iter=n_iter)
        assert ranks.count() == 9 and len(deltas) == n_iter
        held.append(jsc.getPersistentRDDs().size())
        ephemeral.release_caches()
        assert jsc.getPersistentRDDs().size() == base
    assert held[0] == held[1] <= base + 1, held


def test_queries_wrapper_releases_previous_caches(spark, sf_dir):
    """__spark_entry__.queries() wraps every callable to release the
    PREVIOUS query's scoped caches at call time — the property that
    bounds executor storage across the driver's 125-query sweep."""
    import __spark_entry__ as E
    from mapreduce_framework_simple_spark import ephemeral

    qs = E.queries()
    ephemeral.release_caches()
    qs["q36_ngram_jaccard"](spark, sf_dir).count()  # registers its shingle cache
    assert len(ephemeral._SCOPED) > 0
    qs["q01_pricing_summary"](spark, sf_dir).count()  # registers none itself
    assert len(ephemeral._SCOPED) == 0


def test_pagerank_empty_edges(spark):
    from mapreduce_framework_simple_spark.operators.iterative import pagerank

    edges = spark.createDataFrame(
        [], T.StructType([
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
        ])
    )
    ranks, deltas = pagerank(edges, n_iter=2)
    assert ranks.count() == 0
    assert deltas == [0.0, 0.0]


def test_kmeans_empty_embeddings(spark, tmp_path):
    import pandas as pd

    from mapreduce_framework_simple_spark.operators.iterative import kmeans

    sf = tmp_path / "empty_em"
    sf.mkdir()
    pd.DataFrame({
        "vec_id": pd.Series(dtype="int64"),
        "embedding": pd.Series(dtype="object"),
        "label": pd.Series(dtype="int32"),
    }).to_parquet(sf / "embeddings.parquet")
    trace, centroids, stats = kmeans(spark, str(sf))
    assert trace == [] and centroids == []
    assert len(stats) == 0


def test_text_queries_survive_empty_text_docs(spark, tmp_path):
    """ANSI mode (Spark 4 default) aborts the whole job on x/0, and
    empty/whitespace-only documents produce zero-token and zero-length
    denominators in q31/q32/q124 — those must yield NULL (DuckDB's /0
    semantics, via try_divide), not a SparkArithmeticException, or one
    bad crawl record kills the whole corpus pass."""
    import pandas as pd

    from mapreduce_framework_simple_spark.operators.sampling import (
        q124_weighted_sample,
    )
    from mapreduce_framework_simple_spark.operators.text import (
        q31_token_stats,
        q32_quality_score,
    )

    rows = [
        {"doc_id": 0, "text": "", "lang": "en", "source": "web", "n_chars": 0},
        {"doc_id": 1, "text": "   ", "lang": "en", "source": "web", "n_chars": 3},
        {"doc_id": 2, "text": "the quick fox", "lang": "en", "source": "web",
         "n_chars": 13},
    ]
    sf = tmp_path / "emptydocs"
    sf.mkdir()
    pd.DataFrame(rows).to_parquet(sf / "documents.parquet")

    stats = q31_token_stats(spark, str(sf)).toPandas().set_index("doc_id")
    assert stats.loc[0, "n_tokens"] == 0 and pd.isna(stats.loc[0, "avg_token_len"])
    assert pd.isna(stats.loc[1, "avg_token_len"])
    assert stats.loc[2, "n_tokens"] == 3

    q = q32_quality_score(spark, str(sf)).toPandas().set_index("lang")
    # NULL ratios are skipped by the null-skipping fixed average: the
    # en row averages over the one real doc only
    assert q.loc["en", "n_docs"] == 3
    assert abs(q.loc["en", "avg_stopword_ratio"] - 1.0 / 3.0) < 1e-11

    samp = q124_weighted_sample(spark, str(sf)).toPandas()
    # the zero-weight doc sorts after every real key (NULL last) but the
    # query completes; all docs emitted at this tiny size
    assert len(samp) == 3


def test_scrub_pii_null_text_counts_zero(spark):
    """scrub_pii's n_pii contract is 'count of redacted spans' — a
    NULL-text row has zero spans, and emitting NULL instead would make a
    keep-clean gate (where n_pii == 0) silently drop the row."""
    from mapreduce_framework_simple_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(0, None), (1, "mail me a@b.com")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_pii"] for r in scrub_pii(df).collect()}
    assert got == {0: 0, 1: 1}


def test_cache_scope_drains_broadcasts(spark):
    """Broadcasts registered inside a cache_scope block drain with the
    scope — a self-contained multi-query pass (pipeline.curate) must not
    leave torrent copies queued for a global release that may never
    come. Handles registered BEFORE the block stay. Since round 9 the
    scope OWNS its registry (thread-local): in-scope registrations never
    even enter the global list, so a concurrent global drain cannot
    touch them."""
    from mapreduce_framework_simple_spark import ephemeral

    ephemeral.release_caches()
    outer = ephemeral.scoped_broadcast(spark.sparkContext.broadcast([0]))
    with ephemeral.cache_scope():
        inner = ephemeral.scoped_broadcast(spark.sparkContext.broadcast([1, 2]))
        assert ephemeral._SCOPED_BCAST == [outer]  # scope-owned, not global
        assert ephemeral._active_scope()[1] == [inner]
    assert ephemeral._active_scope() is None
    assert ephemeral._SCOPED_BCAST == [outer]
    ephemeral.release_caches()
    assert ephemeral._SCOPED_BCAST == []


def test_release_frees_cached_logicalrdd_frame(spark):
    """release_frame must clear the CacheManager entry even when the frame's
    analyzed plan root is LogicalRDD (a cached bare createDataFrame
    result): routing such a frame to the checkpoint branch alone would
    skip unpersist() and pin the cache for the session."""
    from mapreduce_framework_simple_spark import ephemeral

    ephemeral.release_caches()
    df = ephemeral.scoped_cache(spark.createDataFrame([(1,), (2,)], "x int"))
    df.count()
    assert df.storageLevel.useMemory
    ephemeral.release_caches()
    lvl = df.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)


def test_gopher_gate_emits_row_for_zero_token_docs(spark, monkeypatch):
    """q98's contract is ONE keep row per document: empty, whitespace,
    and NULL-text docs must surface as keep=false rows (top-word side is
    a LEFT join), never vanish from both keep buckets."""
    import mapreduce_framework_simple_spark.sources.io as io_mod
    from mapreduce_framework_simple_spark.operators.text import q98_gopher_rules

    docs = spark.createDataFrame(
        [(1, "the and is of real words repeated the and is"),
         (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(
        "mapreduce_framework_simple_spark.operators.text.load_table",
        lambda spark, table, sf_dir: docs,
    )
    rows = {r["doc_id"]: r for r in q98_gopher_rules(spark, "unused").collect()}
    assert set(rows) == {1, 2, 3, 4}, "zero-token docs dropped from the gate"
    for d in (2, 3, 4):
        assert rows[d]["keep"] is False
        assert rows[d]["n_tokens"] == 0 and rows[d]["top_word_cnt"] == 0


def test_kmeans_guards(spark, sf_dir, tmp_path):
    """kmeans fails loudly on n_iter=0 (no assignment exists to return)
    and on an id space too sparse for stride seeding — both via the
    sf_dir fixture so SPARK_GRAFT_TEST_SF_DIR relocation keeps working
    (a hardcoded path here once bypassed it)."""
    import pytest

    from mapreduce_framework_simple_spark.operators.iterative import kmeans
    from mapreduce_framework_simple_spark.sources.io import load_table

    with pytest.raises(ValueError, match="n_iter"):
        kmeans(spark, sf_dir, n_iter=0)

    # sparse-id-space guard: all-ODD vec_ids with an EVEN stride — no
    # vector satisfies vec_id % stride == 0, so modulo seeding finds
    # nothing and must raise the documented remedy, not IndexError
    em = load_table(spark, "embeddings", sf_dir)
    sparse = em.where(F.col("vec_id") % 2 == 1)
    n_odd = sparse.count()
    assert n_odd >= 4
    sparse.write.parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="stride seeding"):
        kmeans(spark, str(tmp_path), k=n_odd // 2)  # stride = 2, even


def test_nearest_cells_empty_centroids(spark):
    """_nearest_cells on an EMPTY centroid frame (empty corpus ⇒ K≈√N
    = 0 centroids) returns the empty assignment frame with the declared
    output schema — the replaced join+window formulation's behavior —
    instead of np.stack([]) raising on the driver."""
    from mapreduce_framework_simple_spark.operators.similarity import (
        _nearest_cells,
    )

    df = spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame([], "cell_id long, c_emb array<double>")
    out = _nearest_cells(df, "vec_id", "embedding", cents, top_n=1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "embedding", "cell_id",
    ]


def test_exact_dedup_norm_collapses_before_trim(spark):
    """'\\thello world' and 'hello world' are the same document: trim()
    strips only spaces, so the collapse must run FIRST (tab → space →
    trimmed); the old trim-first order left a stray leading space that
    split true duplicate groups in BOTH engines, invisible to the
    oracle."""
    from mapreduce_framework_simple_spark.operators.dedup import norm_expr

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "\thello world"), (3, "hello world\n"),
         (4, "Hello   WORLD")],
        "doc_id long, text string",
    )
    out = df.select(norm_expr().alias("n")).collect()
    assert {r["n"] for r in out} == {"hello world"}


def test_bloom_probe_bound_fails_loudly(spark, sf_dir, monkeypatch):
    """q108's driver-built bitmap is linear in the probe size — an
    over-bound probe must raise with the q91 remedy, not OOM the driver
    in np.zeros."""
    import pytest

    from mapreduce_framework_simple_spark.operators import dedup as D

    monkeypatch.setattr(D, "BLOOM_MAX_PROBE", 0)
    with pytest.raises(ValueError, match="q91"):
        D.q108_bloom_decontaminate(spark, sf_dir).collect()


def test_cache_scope_survives_mid_scope_drain(spark):
    """A release_caches() inside a cache_scope must not leak the scope's
    caches: the scope owns its registry, so the mid-scope global drain
    neither empties it nor voids its bookkeeping — every in-scope
    registration (before AND after the drain) is released at exit."""
    from mapreduce_framework_simple_spark import ephemeral

    ephemeral.release_caches()  # clean slate
    with ephemeral.cache_scope():
        pre = ephemeral.scoped_cache(spark.range(3))
        pre.count()
        ephemeral.release_caches()  # the mid-scope global boundary
        assert pre.storageLevel.useMemory  # scope cache survives the drain
        inner = ephemeral.scoped_cache(spark.range(4))
        inner.count()
    assert not ephemeral._SCOPED, "scope exit leaked post-drain caches"
    for df in (pre, inner):
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), "scope cache still pinned"


def test_cache_scope_is_thread_local(spark):
    """A cache_scope exiting on a stream's foreachBatch driver thread
    must release only ITS OWN registrations — a main-thread query's
    caches registered while the microbatch runs stay live (the
    pre-round-9 index-mark design popped them with the scope's
    suffix)."""
    import threading

    from mapreduce_framework_simple_spark import ephemeral

    ephemeral.release_caches()  # clean slate
    entered, proceed = threading.Event(), threading.Event()
    stream_df = {}

    def microbatch():
        with ephemeral.cache_scope():
            stream_df["df"] = ephemeral.scoped_cache(spark.range(7))
            stream_df["df"].count()
            entered.set()
            proceed.wait(timeout=30)

    t = threading.Thread(target=microbatch)
    t.start()
    assert entered.wait(timeout=30)
    # main thread registers DURING the stream scope
    main = ephemeral.scoped_cache(spark.range(9))
    main.count()
    proceed.set()
    t.join(timeout=30)
    assert main.storageLevel.useMemory, "stream scope released a main-thread cache"
    lvl = stream_df["df"].storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "stream scope leaked its own cache"
    assert ephemeral.release_caches() == 1  # exactly the main registration


def test_synthetic_rejects_nonpositive_rows(spark):
    """Negative/zero rows or batches must fail fast, not silently yield
    an empty table/stream (the module's own fail-fast rationale)."""
    import pytest

    from mapreduce_framework_simple_spark.sources import synthetic

    synthetic.register(spark)
    with pytest.raises(Exception, match="positive"):
        spark.read.format("synthetic_events").option("rows", -500).load().count()


def test_builder_rejects_zero_shuffle_partitions():
    """shuffle_partitions=0 must raise, not silently coerce to the
    default via a falsy-or."""
    import pytest

    from mapreduce_framework_simple_spark.session import builder

    with pytest.raises(ValueError, match="shuffle_partitions"):
        builder(shuffle_partitions=0)


def test_session_shuffle_partitions_follow_local_cores():
    """A local session gets one shuffle partition per core; an explicit
    ``shuffle_partitions=`` or a conf already on the SparkContext (as
    spark-submit ``--conf`` sets it) wins; a cluster master gets no value
    from the builder. Runs in a subprocess: the suite's session exists."""
    import json
    import os
    import subprocess
    import sys

    from mapreduce_framework_simple_spark.session import builder

    cluster = builder(master="spark://h:7077")._options
    assert "spark.sql.shuffle.partitions" not in cluster
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkConf, SparkContext
from mapreduce_framework_simple_spark.session import get_session
key = "spark.sql.shuffle.partitions"
got = []
for kw in ({{}}, {{"shuffle_partitions": 5}}):
    s = get_session("shuffle-default", master="local[3]", **kw)
    got.append(s.conf.get(key))
    s.stop()
SparkContext(conf=SparkConf().setMaster("local[3]").setAppName("pre").set(key, "6"))
got.append(get_session("shuffle-default", master="local[3]").conf.get(key))
print(json.dumps(got))
"""
    # the removed env knob must be inert, not validated
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_SHUFFLE_PARTITIONS="0")
    out = subprocess.run([sys.executable, "-c", script], env=env, check=True,
                         capture_output=True, text=True, timeout=600)
    assert json.loads(out.stdout.strip().splitlines()[-1]) == ["3", "5", "6"]


def test_session_codegen_cache_holds_a_corpus_pass(sf_dir, tmp_path):
    """The builder sizes Spark's codegen cache to 2048 classes, and an
    explicit ``.config()`` on it wins. The corpus ops (q30, q35, q36, q40
    and ``curate``) generate more classes than Spark's default cache of
    100 holds; with 2048, a second pass over a fresh copy of the input
    compiles none. Runs in a subprocess: the cache is sized once per JVM,
    by the first session that generates code."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import json, os, shutil, sys
sys.path.insert(0, {repo!r})
from mapreduce_framework_simple_spark import registry
from mapreduce_framework_simple_spark.ephemeral import release_caches
from mapreduce_framework_simple_spark.pipeline import curate
from mapreduce_framework_simple_spark.session import (
    builder, codegen_counters, get_session)
key = "spark.sql.codegen.cache.maxEntries"
registry.load_all()
spark = get_session("codegen-cache", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
got = [spark.conf.get(key)]
for i in range(2):
    sf = shutil.copytree({sf_dir!r}, os.path.join({str(tmp_path)!r}, f"sf{{i}}"))
    before = codegen_counters(spark)[0]
    for name in ("q30_word_count", "q35_dedup_exact", "q36_ngram_jaccard",
                 "q40_cosine_topk"):
        registry.QUERIES[name](spark, sf).toPandas()
        release_caches()
        spark.catalog.clearCache()
    curate(spark, sf, os.path.join({str(tmp_path)!r}, f"curated{{i}}"))
    release_caches()
    spark.catalog.clearCache()
    got.append(codegen_counters(spark)[0] - before)
spark.stop()
got.append(builder(master="local[2]").config(key, "50").getOrCreate().conf.get(key))
print(json.dumps(got))
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], env=env, check=True,
                         capture_output=True, text=True, timeout=900)
    conf, first, second, override = json.loads(out.stdout.strip().splitlines()[-1])
    assert conf == "2048" and override == "50"
    assert first > 100, f"the corpus ops compiled only {first} classes"
    assert second == 0, f"the second pass re-compiled {second} classes"


def test_session_python_workers_skip_unchanged_archives(tmp_path):
    """A local session's Python workers come from the engine's worker
    daemon: a task's ``importlib.invalidate_caches()`` no longer re-reads
    the unchanged ``pyspark.zip`` and jar directories, while RDD and
    pandas_udf tasks and ``addPyFile`` imports still work. The driver
    runs in ``tmp_path`` and finds the repo only through ``sys.path``, so
    the workers must get it from ``spark.executorEnv.PYTHONPATH``. A
    cluster master gets neither conf, and a caller's ``.config()`` wins.
    Runs in a subprocess: the suite's session exists."""
    import json
    import os
    import subprocess
    import sys
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with zipfile.ZipFile(tmp_path / "shipped.zip", "w") as z:
        z.writestr("shipped_mod.py", "VALUE = 41\n")
    script = f"""
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from mapreduce_framework_simple_spark.session import builder, get_session
daemon_key, path_key = "spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"
cluster = builder(master="spark://h:7077")._options
override = builder().config(daemon_key, "pyspark.daemon")._options[daemon_key]
spark = get_session("worker-daemon", master="local[2]")
sc = spark.sparkContext
conf = [sc.getConf().get(daemon_key), sc.getConf().get(path_key)]

def invalidate_cpu_s(_):
    import importlib, time
    t = time.process_time()
    importlib.invalidate_caches()
    yield time.process_time() - t

@F.pandas_udf("long")
def plus_one(v: pd.Series) -> pd.Series:
    return v + 1

squares = sc.parallelize(range(16), 8).map(lambda x: x * x).collect()
cpu = sc.parallelize(range(4), 4).mapPartitions(invalidate_cpu_s).collect()
udf = [r[0] for r in spark.range(5).select(plus_one("id")).collect()]
sc.addPyFile({str(tmp_path / "shipped.zip")!r})
shipped = sc.parallelize([0], 1).map(lambda _: __import__("shipped_mod").VALUE + 1).collect()
spark.stop()
print(json.dumps({{"cluster": [k in cluster for k in (daemon_key, path_key)],
                  "override": override, "conf": conf, "squares": squares,
                  "cpu": cpu, "udf": udf, "shipped": shipped}}))
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["conf"] == ["mapreduce_framework_simple_spark.worker_daemon", repo]
    assert got["squares"] == [x * x for x in range(16)]
    assert max(got["cpu"]) < 0.02, f"invalidate_caches() cost {got['cpu']} CPU-s"
    assert got["udf"] == [1, 2, 3, 4, 5]
    assert got["shipped"] == [42]
    assert got["cluster"] == [False, False]
    assert got["override"] == "pyspark.daemon"


def test_worker_daemon_rereads_only_changed_archives(tmp_path):
    """The worker daemon's zipimport patch, without Spark: an unchanged
    archive is not re-read on ``importlib.invalidate_caches()``, a
    rewritten one is read once and its new module imports, and a deleted
    one does not raise."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arc = str(tmp_path / "mods.zip")
    script = f"""
import importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
import mapreduce_framework_simple_spark.worker_daemon

def write(names):
    with zipfile.ZipFile({arc!r}, "w") as z:
        for n in names:
            z.writestr(n + ".py", f"NAME = {{n!r}}\\n")

write(["mod_a"])
sys.path.insert(0, {arc!r})
import mod_a
reads, read = [], zipimport._read_directory

def counting(path):
    reads.append(path)
    return read(path)

zipimport._read_directory = counting
importlib.invalidate_caches()
importlib.invalidate_caches()
got = [reads.count({arc!r})]
write(["mod_a", "mod_b"])
importlib.invalidate_caches()
import mod_b
got += [reads.count({arc!r}), mod_b.NAME]
os.remove({arc!r})
importlib.invalidate_caches()
print(json.dumps(got))
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == [0, 1, "mod_b"]

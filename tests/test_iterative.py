"""K-means convergence properties (rows-only query → behavioral tests)."""

from __future__ import annotations

from mapreduce_framework_simple_spark.operators.iterative import (
    K,
    kmeans,
    q104_pagerank,
    q68_kmeans,
)


def test_kmeans_converges_and_is_deterministic(spark, sf_dir):
    # corpus shape derived from the fixture, not hardcoded: the conftest
    # documents SPARK_GRAFT_TEST_SF_DIR relocation, and literal 500/64
    # constants failed on any corpus that wasn't exactly sf0.001's
    from mapreduce_framework_simple_spark.sources.io import load_table

    em = load_table(spark, "embeddings", sf_dir)
    n_vecs = em.count()
    dim = len(em.select("embedding").first()[0])

    trace, centroids, stats = kmeans(spark, sf_dir)
    # objective (mean cosine to assigned centroid) must improve overall
    assert trace[-1] >= trace[0] - 1e-9, f"objective regressed: {trace}"
    # final centroids come back driver-sized: K vectors of the data dim
    assert len(centroids) == K and len(centroids[0]) == dim
    # the final E-step's stats partition the corpus
    assert stats.n_members.sum() == n_vecs and len(stats) <= K
    # deterministic: same seeding, same result
    df = q68_kmeans(spark, sf_dir).toPandas()
    df2 = q68_kmeans(spark, sf_dir).toPandas()
    assert df.equals(df2)
    # full partition of the corpus, no empty output
    assert df.n_members.sum() == n_vecs
    assert len(df) <= K


def test_pagerank_converges_and_ranks_degree(spark):
    """On a star graph the hub must outrank every leaf, and the L1 delta
    must shrink monotonically (power iteration's contraction property)."""
    from mapreduce_framework_simple_spark.operators.iterative import pagerank

    edges = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ranks, deltas = pagerank(e, n_iter=6)
    r = {row["node"]: row["rank"] for row in ranks.collect()}
    assert all(r[0] > r[i] for i in range(1, 9)), "hub must dominate leaves"
    assert all(deltas[i + 1] <= deltas[i] + 1e-9 for i in range(len(deltas) - 1)), deltas


def test_q104_pagerank_deterministic(spark, sf_dir):
    from mapreduce_framework_simple_spark.operators.iterative import q104_pagerank

    a = q104_pagerank(spark, sf_dir).toPandas()
    b = q104_pagerank(spark, sf_dir).toPandas()
    assert 1 <= len(a) <= 10  # top-10 cap; small SFs have <10 suppliers
    assert a.equals(b), "fixpoint must be run-to-run deterministic"


def test_q104_job_count(spark, sf_dir):
    """q104 runs at most 59 Spark jobs: out-degrees ride on the cached
    edge list from the start, and each round's one action is the L1-delta
    aggregate that writes the round's lazy checkpoint — no delta join,
    no per-round out-degree join, no eager checkpoint job. The rest are
    the AQE stage jobs of each round's two joins and its groupBy. Each
    job costs ~0.1-0.2 CPU-s whatever its data, so a round that grows a
    job shows here first."""
    sc = spark.sparkContext
    sc.setJobGroup("q104-job-count", "q104")
    try:
        q104_pagerank(spark, sf_dir).toPandas()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup("q104-job-count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs <= 59, f"q104 ran {jobs} jobs"


def test_fixpoint_result_is_query_scoped_and_fails_loudly(spark):
    """KNOWN_LIMITS §17 contract: the checkpoint-backed frame a fixpoint
    returns is QUERY-SCOPED. Within the scope it is fully usable; once
    release_caches() (the harness's per-query boundary) frees the
    checkpoint blocks, consuming it must fail LOUDLY with a
    block-not-found error — never silently recompute the fixpoint."""
    import pytest

    from mapreduce_framework_simple_spark import ephemeral
    from mapreduce_framework_simple_spark.operators.iterative import pagerank

    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ranks, _ = pagerank(e, n_iter=2)
    assert ranks.count() == 5  # in-scope: fully usable
    ephemeral.release_caches()  # the query boundary frees the blocks
    with pytest.raises(Exception) as exc:
        ranks.collect()
    msg = str(exc.value).lower()
    assert "checkpoint" in msg or "block" in msg, (
        f"expected a loud checkpoint-block error, got: {msg[:400]}"
    )

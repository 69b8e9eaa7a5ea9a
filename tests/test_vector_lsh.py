"""Hyperplane-LSH near-dup: recall on planted near-duplicates (the
testdata embeddings top out at cos≈0.55, below the near-dup regime LSH
targets, so duplicates are planted: base vectors + tiny noise)."""

from __future__ import annotations

import numpy as np
import pytest

from mapreduce_framework_simple_spark.operators.similarity import hyperplane_lsh_pairs


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(200, 64)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # plant 40 near-dups: copy of vector i with 1% noise, cos > 0.99
    for j in range(40):
        v = base[j] + 0.01 * rng.randn(64)
        rows.append((1000 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    truth = {(j, 1000 + j) for j in range(40)}
    return df, truth


def test_lsh_recall_on_planted_dups(spark, planted):
    df, truth = planted
    got = hyperplane_lsh_pairs(df, threshold=0.95).toPandas()
    found = set(zip(got.vec_a, got.vec_b))
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"recall {recall:.2f}, found {len(found)} pairs"
    # verification step keeps precision perfect at this threshold
    assert all((a, b) in truth or abs(a - b) != 1000 for a, b in found)


def test_lsh_no_false_positives_above_threshold(spark, planted):
    df, truth = planted
    got = hyperplane_lsh_pairs(df, threshold=0.95).toPandas()
    # self-contained: an empty result would make the .all() vacuously true
    assert len(got) > 0
    # every reported pair really has cos >= 0.95 (verified, not just bucketed)
    assert (got.cos_sim >= 0.95).all()


def test_lsh_hot_bucket_cap(spark, planted):
    """The vector LSH runs no hot-bucket guard, like the q96 oracle: a
    planted boilerplate cluster (60 identical vectors, so every one of
    its band buckets holds all 60) reports all C(60,2) of its pairs."""
    df, truth = planted
    rng = np.random.RandomState(11)
    hot = [float(x) for x in rng.randn(64)]
    hot_df = df.sparkSession.createDataFrame(
        [(5000 + i, hot) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    corpus = df.unionAll(hot_df)

    uncapped = hyperplane_lsh_pairs(corpus, threshold=0.95).toPandas()
    hot_pairs = {
        (a, b) for a, b in zip(uncapped.vec_a, uncapped.vec_b) if a >= 5000
    }
    assert len(hot_pairs) == 60 * 59 // 2


def test_block_topk_kernel_matches_bruteforce(spark, tmp_path):
    """Property check for the corpus-scale kNN fallback kernel: on a
    planted random corpus, _block_topk_cosine's margin-pruned output,
    ranked exactly as q120 ranks it (rounded score desc, neighbor id
    asc), must equal the brute-force numpy top-k for EVERY query —
    across block boundaries, chunk boundaries, and rounding ties."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    n, dim, k = 300, 16, 3
    mat = rng.normal(size=(n, dim)).astype("float32")
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": [list(map(float, row)) for row in mat],
        "label": (np.arange(n) % 4).astype("int32"),
    })
    sf = tmp_path / "planted_knn"
    sf.mkdir()
    pdf.to_parquet(sf / "embeddings.parquet")

    scored = S._block_topk_cosine(spark, str(sf), k).select(
        "query_id", "neighbor_id", F.round(F.col("cos_raw"), 6).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    got = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .collect()
    }

    # brute force with the exact same sequential-fold float semantics —
    # including the ROUNDING mode: the Spark side ranks F.round values
    # (HALF_UP), so the referee must round half-up too, not np.round's
    # half-even (they differ on dyadic-rational ties like 77/128)
    m = mat.astype("float64")
    acc = np.zeros(n)
    for d in range(dim):
        acc += m[:, d] * m[:, d]
    norm = np.sqrt(acc)
    dots = np.zeros((n, n))
    for d in range(dim):
        dots += m[:, d:d + 1] * m[:, d][None, :]
    raw = dots / (norm[:, None] * norm[None, :])
    cos = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
    for q in range(n):
        order = sorted(
            (i for i in range(n) if i != q), key=lambda i: (-cos[q, i], i)
        )[:k]
        for rnk, nid in enumerate(order, start=1):
            assert got[(q, rnk)] == nid, (q, rnk, nid, got[(q, rnk)])
    assert len(got) == n * k

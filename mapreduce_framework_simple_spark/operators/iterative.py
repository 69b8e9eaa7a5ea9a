"""Iterative algorithms on DataFrames — k-means over the embeddings
table.

SURVEY.md flags "iterative algorithms" as the genuinely
non-SQL-expressible corner of the surface (the driver records a weaker
rows-only check; convergence properties are asserted in
tests/test_iterative.py instead).

Spark-first shape of an iteration:

* centroids live on the DRIVER between iterations (K × dim doubles —
  tiny), and ride into each assignment pass via the mapInPandas closure
  (an implicit broadcast);
* each iteration is one distributed pass: vectorized assignment (numpy
  argmax of cosine against the centroid matrix per Arrow batch) feeding
  a groupBy(cluster) mean — partial aggregation keeps the shuffle at
  K × dim per partition;
* the loop is driver-side Python, exactly how MLlib structures Lloyd's
  algorithm. At 100 TB: same code, plus persisting the input once up
  front so ten iterations scan memory/SSD instead of object storage.

The reference could express this only as repeated whole map_reduce
calls with the model shipped inside the mapper source each round
(Simple.pm:164) — the structure here is identical, minus the re-eval.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_simple_spark.ephemeral import (
    release_frame,
    scoped_release,
)
from mapreduce_framework_simple_spark.registry import query
from mapreduce_framework_simple_spark.sources.io import load_table

logger = logging.getLogger(__name__)

K = 8
N_ITER = 5


def _assign(df: DataFrame, centroids) -> DataFrame:
    """One assignment pass: nearest centroid by cosine, vectorized."""
    import numpy as np

    cent = np.asarray(centroids, dtype="float64")
    norms = np.linalg.norm(cent, axis=1, keepdims=True)
    cent_unit = cent / np.where(norms == 0, 1.0, norms)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch: np.stack([]) raises
                continue
            mat = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
            vnorms = np.linalg.norm(mat, axis=1, keepdims=True)
            # zero-norm vectors get sim 0 to every centroid (cosine is
            # undefined; 0/0 would poison argmax/trace with NaN)
            unit = mat / np.where(vnorms == 0, 1.0, vnorms)
            sims = unit @ cent_unit.T
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                "embedding": pdf["embedding"],
                "cluster": sims.argmax(axis=1).astype("int32"),
                "sim": sims.max(axis=1),
            })

    return df.mapInPandas(
        run, "vec_id long, embedding array<float>, cluster int, sim double"
    )


def kmeans(spark: SparkSession, sf_dir: str, k: int | None = K,
           n_iter: int = N_ITER) -> tuple[list[float], list[list[float]], "object"]:
    """Lloyd's k-means (cosine flavor) with deterministic seeding (every
    (N/k)-th vector). ``k=None`` means ⌈√N⌉ — the IVF sizing — computed
    here from the count this function needs anyway, so callers don't pay
    a second corpus scan just to size k. Returns (per-iteration
    mean-similarity trace — monotone non-decreasing up to fp noise, the
    final centroid list — K × dim floats, driver-sized; the IVF index
    builder consumes these as its cell centroids — and the final
    iteration's per-cluster stats pandas frame (cluster, mean_sim,
    n_members): the loop computes it anyway for the trace, and q68 reads
    its answer from it instead of paying a second full assignment pass
    + shuffle over the corpus).

    .. note:: the stats (and the trace tail) come from the final
       E-step, against the PREVIOUS centroids; the returned centroids
       include one further M-step update. Labels consistent with the
       returned centroids come from re-assigning against them, as the
       IVF builder does (``similarity.ivf_assignments``)."""
    import math

    from mapreduce_framework_simple_spark.ephemeral import scoped_cache

    em = scoped_cache(
        load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    )
    n = em.count()
    if n == 0:
        # empty-input contract: empty trace, centroids and stats — not a
        # numpy AxisError from zero seeds
        import pandas as pd

        empty_stats = pd.DataFrame(
            {"cluster": pd.Series(dtype="int64"),
             "mean_sim": pd.Series(dtype="float64"),
             "n_members": pd.Series(dtype="int64")}
        )
        return [], [], empty_stats
    if n_iter < 1:
        # zero iterations has no stats to return; fail loudly instead of
        # UnboundLocalError deep in the tail
        raise ValueError(f"kmeans: n_iter must be >= 1, got {n_iter}")
    if k is None:
        # ⌈√n⌉ exactly (isqrt(n-1)+1 for n ≥ 1) — the documented IVF
        # sizing; bare isqrt is the floor and under-sized every
        # non-perfect-square corpus by one cell vs the stated contract
        k = math.isqrt(n - 1) + 1
    stride = max(n // k, 1)
    seeds = (
        em.where(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .limit(k)
        .toPandas()["embedding"]
        .tolist()
    )
    if not seeds:
        # stride seeding assumes reasonably dense vec_ids; sparse/offset
        # id spaces (all-odd ids with an even stride, large offsets) can
        # miss every row — fail with the remedy, not an IndexError
        raise ValueError(
            "kmeans: stride seeding found no vectors with "
            f"vec_id % {stride} == 0 — the id space is too sparse for "
            "modulo seeding; densify ids or pass explicit k"
        )
    if len(seeds) < k:
        logger.warning(
            "kmeans: stride seeding yielded %d seeds for k=%d — "
            "proceeding with the smaller k", len(seeds), k,
        )
    centroids = [list(map(float, s)) for s in seeds]
    trace: list[float] = []
    for _ in range(n_iter):
        agg = (
            _assign(em, centroids).groupBy("cluster")
            .agg(
                *[
                    F.avg(F.element_at(F.col("embedding"), i + 1).cast("double")).alias(f"c{i}")
                    for i in range(len(centroids[0]))
                ],
                F.avg("sim").alias("mean_sim"),
                F.count("*").alias("n_members"),
            )
            .toPandas()
            .sort_values("cluster")
        )
        trace.append(float((agg["mean_sim"] * agg["n_members"]).sum() / agg["n_members"].sum()))
        new_centroids = list(centroids)
        for _, row in agg.iterrows():
            new_centroids[int(row["cluster"])] = [
                float(row[f"c{i}"]) for i in range(len(centroids[0]))
            ]
        centroids = new_centroids
    em.unpersist()  # nothing returned is lazy over it
    return trace, centroids, agg[["cluster", "mean_sim", "n_members"]]


@query("q68_kmeans")  # rows-only: iterative, not SQL-expressible (SURVEY §2.3)
def q68_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster sizes + cohesion after 5 iterations (deterministic
    seeding ⇒ deterministic output; the oracle-less rows-only check is
    backed by the convergence test in tests/test_iterative.py)."""
    _, _, stats = kmeans(spark, sf_dir)
    # the loop's final per-cluster aggregate IS this query's answer —
    # re-aggregating a fresh assignment would pay one more full corpus
    # pass plus a shuffle for numbers already on the driver
    rows = [
        (int(r.cluster), int(r.n_members), float(round(r.mean_sim, 6)))
        for r in stats.itertuples()
    ]
    return spark.createDataFrame(
        sorted(rows), "cluster int, n_members long, mean_sim double"
    )


PR_DAMPING = 0.85
PR_ITER = 8


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = PR_ITER, damping: float = PR_DAMPING,
             ) -> tuple[DataFrame, list[float]]:
    """PageRank by power iteration — the second canonical iterative
    DataFrame algorithm (next to k-means/label-propagation): each round
    distributes every node's rank over its out-edges and re-aggregates,
    with the damping teleport term.

    Spark-first shape, the same round as ``dedup.connected_components``:
    out-degrees ride on the distinct edge list from the start (a window
    count; one cached ``(src, dst, out_deg)`` frame). One round = one
    equi-join (rank ⋈ edges) + one partial-aggregated shuffle keyed by
    dst, merged into a lazily checkpointed frame that carries
    ``old_rank`` beside ``rank``. The round's L1-delta aggregate over
    that frame is its one action: it materializes the checkpoint and
    yields the delta, with no new-vs-old join. The superseded checkpoint
    is released every round, so storage stays O(1) frames. Returns
    (ranks, per-round L1 deltas — monotonically shrinking for any
    graph).

    Scale: state is one (node, rank) row per node; per-round cost is one
    shuffle of the edge list — the same shape GraphX/Pregel executes.
    Dangling nodes keep the teleport mass only (standard simplification,
    documented).

    .. warning:: The returned frame is QUERY-SCOPED (KNOWN_LIMITS §17):
       it is localCheckpoint-backed, and a checkpoint cannot recompute
       once its blocks are freed at the next
       ``ephemeral.release_caches()`` boundary. Materialize it
       (collect / write) within the same query scope; consuming it later
       fails LOUDLY ("checkpoint block not found") rather than silently
       recomputing — chosen over pinning a node-sized frame per call."""
    from pyspark.sql import Window

    from mapreduce_framework_simple_spark.ephemeral import scoped_cache

    # scoped_cache, not bare .cache(): an exception mid-loop (executor
    # OOM, retry exhaustion in the delta collect) would skip the explicit
    # unpersists below and pin both frames for the session — the scoped
    # registry frees them at the next query boundary regardless
    ed = scoped_cache(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .withColumn("out_deg", F.count("*").over(Window.partitionBy("src")))
    )
    ranks = scoped_cache(
        ed.select(F.col("src").alias("node"))
        .unionAll(ed.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("rank", F.lit(1.0))
    )
    cached = ranks  # the handle actually holding each round's blocks
    deltas: list[float] = []
    for _ in range(n_iter):
        in_mass = (
            ranks.join(ed, ranks.node == ed.src)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("in_mass"))
        )
        # localCheckpoint, not cache: each round's plan references the
        # previous round's joins, so without truncation the logical plan
        # doubles per iteration and the driver OOMs just PRINTING it by
        # ~8 rounds. Lazy, so the delta aggregate below is the action
        # that writes it. (Blocks are unreplicated executor storage: an
        # executor loss restarts the pagerank call — the trade MLlib
        # makes with periodic checkpointing.)
        merged = (
            ranks.join(in_mass, ranks.node == F.col("node2"), "left")
            .select(
                "node",
                F.col("rank").alias("old_rank"),
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
        delta = merged.agg(F.sum(F.abs(F.col("rank") - F.col("old_rank")))).first()[0]
        # empty graph: sum over zero rows is NULL — treat as converged
        deltas.append(float(delta) if delta is not None else 0.0)
        # round 1 frees the seed cache; later rounds free the superseded
        # checkpoint through `cached`, the handle whose plan is the
        # LogicalRDD — a projection of it would free nothing
        release_frame(cached)
        cached = merged
        ranks = merged.select("node", "rank")
    ed.unpersist()
    # LIFETIME CONTRACT: the returned frame is QUERY-SCOPED — a
    # checkpoint cannot recompute once the query-boundary release frees
    # its blocks, so act on it before the next release_caches()
    scoped_release(cached)
    return ranks, deltas


@query("q104_pagerank")  # rows-only: iterative float fixpoint, not SQL-expressible
def q104_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier transaction graph (distinct
    trading pairs from orders⋈lineitem, both directions): which suppliers
    sit most centrally in the purchase network. Deterministic input ⇒
    deterministic fixpoint; convergence (shrinking L1 deltas) asserted in
    tests, like k-means (q68).

    Scale: the edge build is two broadcast-free equi-joins feeding a
    distinct; each PR round shuffles the edge list once — the Pregel
    shape, linear per round."""
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    # bipartite, both directions (undirected random walk)
    edges = pairs.selectExpr("cust AS src", "-supp AS dst").unionAll(
        pairs.selectExpr("-supp AS src", "cust AS dst")
    )  # suppliers negated so the two key spaces cannot collide
    ranks, _ = pagerank(edges)
    return (
        ranks.where(F.col("node") < 0)
        .select((-F.col("node")).alias("suppkey"), F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("suppkey"))
        .limit(10)
    )

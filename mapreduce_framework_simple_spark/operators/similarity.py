"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Four paths, per the north star — none of which materializes the corpus on
the driver:

* **Exact cosine top-k** (q40) — query set broadcast via ``sc.broadcast``
  (bounded, documented), corpus streamed through ``mapInPandas``.
* **IVF (inverted-file) ANN** (q41, rows-only + recall-tested) — the
  100 TB top-k path: partition vectors into Voronoi cells around
  centroids, probe the nearest few cells per query. Turns an O(N·Q) scan
  into O(N/cells · probes · Q) with a broadcast of the (tiny) centroids.
* **Exact all-pairs near-dup** (q42) — distributed block self-join
  (cogrouped applyInPandas): quadratic work by nature (ground truth) but
  fully distributed in memory and compute.
* **Hyperplane-LSH near-dup** (q96) — the 100 TB near-dup path: banded
  sign-bit signatures, bucket candidate join, exact verify; the oracle
  replicates the full pipeline bit-exactly from shared inlined constants.

Every Arrow kernel here takes its arithmetic from :func:`_cosine_core`,
the one definition of the rules that keep them hash-exact against the
DuckDB oracles: the sequential per-dimension fold, the zero-norm guard,
HALF_UP micro-units and the margin top-k.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_simple_spark.ephemeral import (
    scoped_broadcast,
    scoped_cache,
    size_gate,
)
from mapreduce_framework_simple_spark.registry import query
from mapreduce_framework_simple_spark.sources.io import load_table

TOP_K = 5
QUERY_STRIDE = 25  # vec_id % 25 == 0 → deterministic query subset


def to_double_array(a: str | Column) -> Column:
    """float[] → double[] once per vector; queries pre-cast before any
    pairwise math so the per-pair fold does 64 multiplies, not 128 casts
    plus 64 multiplies."""
    a = F.col(a) if isinstance(a, str) else a
    return F.transform(a, lambda x: x.cast("double"))


def dot_expr(a: str | Column, b: str | Column) -> Column:
    """Sequential left-fold dot product in double precision.

    DuckDB twin: list_reduce(list_zip → x*y, (acc,x) -> acc+x) — both
    engines add in identical order, so results agree bit-for-bit."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_expr(a: str | Column, b: str | Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


# DuckDB fragments mirroring the folds above (same order of operations).
def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)"
    )

def _duck_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0, list_transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))"
    )


def _cosine_core():
    """The numpy arithmetic every vector kernel in this module shares,
    as a namespace of NESTED functions: cloudpickle ships them by value
    inside each kernel's closure, so executors never import this
    package. Call it on the driver and close over the result; a kernel
    body that named ``_cosine_core`` itself would pickle a module
    reference.

    * ``stack(col)`` — a column of vectors as a float64 (rows × dim)
      matrix.
    * ``norms(mat)`` / ``dots(a, b)`` / ``paired(a, b)`` — row norms,
      the (len(a) × len(b)) dot matrix and the row-wise cosine of a[i]
      with b[i]. Each accumulates SEQUENTIALLY over dimensions, the
      addition order of DuckDB's ``list_reduce`` fold (``_duck_dot`` /
      ``_duck_norm``), so results are bit-identical across engines, not
      merely close. Why not the JVM higher-order-function fold: Spark
      evaluates lambdas interpreted, ~50 boxed ops per element —
      measured 21 s for 2M pairs, vs <1 s vectorized.
    * Zero-norm guard: ``norms`` reports 1 for a zero vector, so its
      cosine is exactly 0 (its dots are 0) — the iterative._assign
      convention. Unguarded, 0/0 = NaN fails every top-k and threshold
      comparison (the pair silently vanishes) and casts to an undefined
      int64 in ``micro``.
    * ``micro(sims)`` — 6-dp HALF_UP (``F.round``'s mode; ``np.round``
      is half-even) as int64 micro-units, so ranking ties are exact and
      ``ri / 1e6`` is the correctly rounded 6-dp double. The
      ``floor(|x|·1e6 + 0.5)`` tie decision can disagree with
      ``F.round``'s BigDecimal HALF_UP when ``|x|·1e6`` lands within one
      ulp of a .5 tie, so this parity is corpus-pinned by the oracle
      and path-equality tests, not universal.
    * ``top_k(sims, qids, nids, k)`` — keep mask over a (query ×
      neighbor) matrix: never a self pair; all candidates when a query
      has ≤ k of them; otherwise each candidate whose rounded score is
      within one 6-dp quantum of the query's k-th rounded score. The
      margin makes the kept rows a superset of any rounded-order top-k
      whichever rounding mode settles a tie, so the union of per-batch
      or per-chunk survivors always contains the global answer.

    k-means assignment (``iterative._assign``) keeps its own BLAS
    unit-vector matmul on purpose: it is different arithmetic, and
    moving it onto this core would change the centroids."""
    from types import SimpleNamespace

    import numpy as np

    def stack(col):
        return np.stack([np.asarray(v, dtype="float64") for v in col])

    def norms(mat):
        acc = np.zeros(len(mat))
        for d in range(mat.shape[1]):
            acc += mat[:, d] * mat[:, d]
        return np.where(acc == 0, 1.0, np.sqrt(acc))

    def dots(a, b):
        acc = np.zeros((len(a), len(b)))
        for d in range(a.shape[1]):
            acc += a[:, d:d + 1] * b[:, d][None, :]
        return acc

    def paired(a, b):
        acc = np.zeros(len(a))
        for d in range(a.shape[1]):
            acc += a[:, d] * b[:, d]
        return acc / (norms(a) * norms(b))

    def micro(sims):
        return (np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5)).astype("int64")

    def top_k(sims, qids, nids, k):
        not_self = qids[:, None] != nids[None, :]
        if sims.shape[1] <= k:
            return not_self
        r6 = np.where(not_self, np.round(sims, 6), -np.inf)
        kth = -np.partition(-r6, k - 1, axis=1)[:, k - 1]
        return (r6 >= kth[:, None] - 1e-6) & not_self

    return SimpleNamespace(stack=stack, norms=norms, dots=dots,
                           paired=paired, micro=micro, top_k=top_k)


MAX_BROADCAST_QUERIES = 100_000  # documented bound: Q·dim·8B ≈ 50 MB at 64 dims
# per-task float64 budget for the scan kernel's (batch × ref-chunk) score
# matrix: 16M elements ≈ 134 MB — the same scale the block kernel's
# BLOCK_CHUNK_ROWS enforces
_SCAN_CHUNK_ELEMS = 16_777_216


def _pairwise_cosine_scan(em: DataFrame, ref, k: int):
    """Vectorized query-vs-corpus cosine top-k kernel over the corpus
    frame ``em`` (vec_id, embedding). The reference (QUERY) set ``ref``
    is the pandas frame q40's :func:`size_gate` at
    ``MAX_BROADCAST_QUERIES`` collected; it ships via ``sc.broadcast``,
    so executors hold ONE torrent copy instead of a per-task closure
    payload, and the corpus streams through ``mapInPandas`` Arrow
    batches. Corpus-sized reference sets use the block kernels
    (:func:`_block_topk_cosine`, :func:`_block_pairs_cosine`) or LSH.

    Emits (query_id=ref id, neighbor_id=corpus id, cos_sim UNROUNDED),
    pruned per batch by the core's margin ``top_k`` at ``k``.
    """
    spark = em.sparkSession
    schema = "query_id long, neighbor_id long, cos_sim_raw double"
    if len(ref) == 0:
        # empty reference set: no pairs (np.stack([]) would raise)
        return spark.createDataFrame([], schema)
    core = _cosine_core()
    ref_ids_l = ref["vec_id"].to_numpy(dtype="int64")
    # registered for the query-boundary release: unpersisted (executor
    # copies dropped, re-shippable) once the consumer has materialized,
    # instead of leaking one ~50 MB torrent copy per invocation
    bc = scoped_broadcast(
        spark.sparkContext.broadcast((ref_ids_l, core.stack(ref["embedding"])))
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        ref_ids, ref_mat = bc.value
        rnorm = core.norms(ref_mat)
        for pdf in batches:
            if len(pdf) == 0:  # np.stack on an empty batch would raise
                continue
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            mat = core.stack(pdf["embedding"])
            bnorm = core.norms(mat)
            out_q, out_n, out_c = [], [], []
            # chunk the (Q × batch) score matrix over the REFERENCE axis:
            # unchunked it is 8 GB per task at a 10k-row batch against
            # the 100k-query bound (MAX_BROADCAST_QUERIES only sizes the
            # 50 MB broadcast); the top-k prune is per query row, so
            # chunking changes no emitted bit
            step = max(1, _SCAN_CHUNK_ELEMS // max(1, len(mat)))
            for c0 in range(0, len(ref_mat), step):
                rchunk = ref_mat[c0:c0 + step]
                sims = core.dots(rchunk, mat) / (
                    rnorm[c0:c0 + step][:, None] * bnorm[None, :])
                qids = ref_ids[c0:c0 + step]
                ii, jj = np.nonzero(core.top_k(sims, qids, ids, k))
                out_q.append(qids[ii])
                out_n.append(ids[jj])
                out_c.append(sims[ii, jj])
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cos_sim_raw": np.concatenate(out_c),
            })

    return em.select("vec_id", "embedding").mapInPandas(score, schema)


@query(
    "q40_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id % {QUERY_STRIDE} = 0),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round({_duck_dot('q.q_emb', 'e.embedding')}
                     / ({_duck_norm('q.q_emb')} * {_duck_norm('e.embedding')}), 6) AS cos_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def q40_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for a deterministic query subset,
    on the vectorized matmul kernel (queries ship via ONE torrent
    ``sc.broadcast`` — deliberately NOT the per-task closure, see
    :func:`_pairwise_cosine_scan`; corpus scan is embarrassingly
    parallel; per-batch top-k pruning keeps the final window shuffle at
    O(batches × k) rows per query). This exact kernel is also the recall
    referee for q41's IVF path."""
    em = load_table(spark, "embeddings", sf_dir)
    q = em.where(F.col("vec_id") % QUERY_STRIDE == 0).select("vec_id", "embedding")
    fits, ref = size_gate(q, MAX_BROADCAST_QUERIES, collect=True)
    if not fits:
        raise ValueError(f"query set exceeds {MAX_BROADCAST_QUERIES} vectors; use "
                         "the block or LSH kernels for corpus-scale sets")
    scored = _pairwise_cosine_scan(em, ref, TOP_K).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_sim_raw"), 6).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= TOP_K)
    )


N_CELLS_STRIDE = 31  # vec_id % 31 == 0 → deterministic centroid "training" set
META_STRIDE = 155  # 31 × 5: stride meta layer = every 5th stride centroid
# 6 probes of ~17 cells ≈ 35% of the corpus per query. The synthetic
# embeddings are weakly clustered (max pairwise cos ≈ 0.55), so recall is
# governed mostly by probe coverage; real embedding corpora cluster far
# tighter and would hit >0.9 recall at this probe fraction.
N_PROBE = 6
# meta cells routed per vector by the two-level router. Recall governor
# of the router layer the same way N_PROBE governs the fine layer: a
# fine cell is reachable only through its single meta route, so
# route_n = 1 risks losing a near-boundary fine cell; 4 of ~√K meta
# cells keeps the routed candidate pool ≈ 4·√K fine centroids — still ≪ K.
META_ROUTE_PROBES = 4


def kmeans_centroid_frame(spark: SparkSession, sf_dir: str,
                          k: int | None = None) -> DataFrame:
    """(cell_id, c_emb) IVF centroids from the seeded Lloyd's k-means
    (:func:`mapreduce_framework_simple_spark.operators.iterative.kmeans`)
    — THE production centroid source for the IVF index, for both the
    fine layer and the router's meta layer. ``k`` defaults
    to ⌈√N⌉, the standard IVF sizing under which both the probe-selection
    term (N·K cosines) and the candidate join (N·n_probe·N/K) are
    O(N^1.5·n_probe), and the centroid table stays √N rows (~10⁵ at
    10¹⁰ vectors — comfortably broadcastable). The deterministic stride
    layers (:func:`_stride`) remain only as the oracle-stable default of
    the q41/q129 query surface.

    Scale: k-means itself is n_iter distributed passes (see
    iterative.py); the returned frame is K × dim doubles created from
    the driver-held centroid list — tiny by construction. ``k=None``
    (the ⌈√N⌉ default) is passed through to :func:`iterative.kmeans`,
    which sizes it from the corpus count it takes anyway — no separate
    sizing scan here."""
    from mapreduce_framework_simple_spark.operators.iterative import kmeans

    _, cents, _ = kmeans(spark, sf_dir, k=k)
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    return spark.createDataFrame(rows, "cell_id long, c_emb array<double>")


def _stride(em: DataFrame, stride: int, id_col: str = "cell_id",
            emb_col: str = "c_emb") -> DataFrame:
    """Every ``stride``-th vector of the corpus frame ``em`` as an
    (id_col, emb_col) frame — the deterministic layers of the oracle
    surface: ``N_CELLS_STRIDE`` the centroids, ``META_STRIDE`` the meta
    layer (every 5th centroid), ``QUERY_STRIDE`` with (query_id, q_emb)
    the query subset. Kept for oracle/test determinism (k-means
    assignment can flip on 1-ULP partial-aggregation differences across
    partitionings); at K = N/31 the stride centroids do NOT have the
    O(N^1.5) IVF sizing — production indexes pass
    :func:`kmeans_centroid_frame` instead."""
    return em.where(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias(id_col), F.col("embedding").alias(emb_col)
    )


def _gated_centroids(cents):
    """The (cell_id, c_emb) centroid set as the pandas frame
    :func:`_nearest_cells` broadcasts: one :func:`size_gate` collect at
    ``MAX_BROADCAST_QUERIES`` (K ≈ √N by the IVF sizing), or ``cents``
    itself when it is already that collected frame, so a caller that
    assigns and probes over one centroid set collects it once."""
    if not isinstance(cents, DataFrame):
        return cents
    fits, cp = size_gate(cents.select("cell_id", "c_emb"),
                         MAX_BROADCAST_QUERIES, collect=True)
    if not fits:
        raise ValueError(
            f"centroid set exceeds {MAX_BROADCAST_QUERIES}; IVF sizing is "
            "K ≈ √N — rebuild with kmeans_centroid_frame, or for K past "
            "the broadcast bound pass a meta layer to route through the "
            "two-level router (meta_centroids=, docs/SCALE.md)"
        )
    return cp


def _nearest_cells(df: DataFrame, id_col: str, emb_col: str,
                   cents, top_n: int) -> DataFrame:
    """Vectorized top-``top_n`` centroid cells per vector — the flat
    kernel of :func:`ivf_cells`, and the routing hop inside
    :func:`_routed_cells`.

    Same shape as :func:`_pairwise_cosine_scan`: the bounded centroid
    set ``cents`` (a frame, or :func:`_gated_centroids`' collected set)
    ships via one torrent ``sc.broadcast``; the corpus streams through
    ``mapInPandas`` Arrow batches. Ranking is (HALF_UP micro-units DESC,
    cell_id ASC), equality-tested against the JVM expression formulation
    on both centroid sources."""
    spark = df.sparkSession
    cp = _gated_centroids(cents)
    if len(cp) == 0:
        # Empty centroid frame (empty corpus ⇒ K ≈ √N = 0 centroids):
        # the nearest-of-zero-cells relation is empty. Without this
        # guard np.stack([]) raises on the driver. Schema matches the
        # mapInPandas declaration below exactly.
        return df.select(
            F.col(id_col).cast("long").alias(id_col),
            emb_col,
            F.lit(None).cast("long").alias("cell_id"),
        ).limit(0)
    core = _cosine_core()
    cell_ids_l = cp["cell_id"].to_numpy(dtype="int64")
    bc = scoped_broadcast(
        spark.sparkContext.broadcast((cell_ids_l, core.stack(cp["c_emb"])))
    )

    def nearest(batches):
        import numpy as np
        import pandas as pd

        cell_ids, cmat = bc.value
        cnorm = core.norms(cmat)
        for pdf in batches:
            if len(pdf) == 0:  # np.stack on an empty batch would raise
                continue
            ids = pdf[id_col].to_numpy(dtype="int64")
            mat = core.stack(pdf[emb_col])
            bnorm = core.norms(mat)
            best_r = best_c = None  # carried (rows × ≤top_n) top lists
            step = max(1, _SCAN_CHUNK_ELEMS // max(1, len(mat)))
            for c0 in range(0, len(cmat), step):
                sims = core.dots(mat, cmat[c0:c0 + step]) / (
                    bnorm[:, None] * cnorm[c0:c0 + step][None, :])
                ri = core.micro(sims)
                ci = np.broadcast_to(cell_ids[c0:c0 + step], ri.shape)
                cand_r = ri if best_r is None else np.concatenate([best_r, ri], 1)
                cand_c = ci if best_c is None else np.concatenate([best_c, ci], 1)
                # per-row lexicographic (-sim, cell_id): stable sort by
                # cell, then stable sort by -sim — ties land on the
                # smaller cell
                o1 = np.argsort(cand_c, axis=1, kind="stable")
                r1 = np.take_along_axis(cand_r, o1, 1)
                o2 = np.argsort(-r1, axis=1, kind="stable")
                sel = np.take_along_axis(o1, o2, 1)[:, :top_n]
                best_r = np.take_along_axis(cand_r, sel, 1)
                best_c = np.take_along_axis(cand_c, sel, 1)
            k_out = best_c.shape[1]  # ≤ top_n (fewer cells than probes)
            yield pd.DataFrame({
                id_col: np.repeat(ids, k_out),
                emb_col: [v for v in pdf[emb_col] for _ in range(k_out)],
                "cell_id": best_c.reshape(-1),
            })

    emb_t = df.schema[emb_col].dataType.simpleString()
    return df.select(id_col, emb_col).mapInPandas(
        nearest, f"{id_col} long, {emb_col} {emb_t}, cell_id long"
    )


def _routed_cells(df: DataFrame, id_col: str, emb_col: str,
                  centroids: DataFrame, meta_centroids: DataFrame,
                  top_n: int, route_n: int = META_ROUTE_PROBES) -> DataFrame:
    """Skinny (id_col, cell_id): :func:`_nearest_cells`' top-``top_n``
    cells for the K > MAX_BROADCAST_QUERIES regime — the two-level
    (coarse-router) selection of docs/SCALE.md §"Two-level IVF routing
    for K beyond the broadcast bound". q129 is its oracle-checked
    surface; :func:`ivf_cells` re-attaches the vectors for every other
    consumer.

    :func:`_nearest_cells` broadcasts its whole centroid set, so flat
    selection caps at K = 100k centroids — N ≈ 10^10 vectors under
    K ≈ √N. Beyond that, only √K ≈ N^(1/4) META-centroids are ever
    broadcast (~10^5 meta cells not before N ≈ 10^20): the K fine
    centroids route to their nearest meta cell (``_nearest_cells`` over
    the fine-centroid FRAME — K rows stream through Arrow batches, √K
    broadcast), each row of ``df`` routes to its top-``route_n`` meta
    cells the same way, and fine scoring happens in a meta-cell-keyed
    DISTRIBUTED join + Arrow-batched exact cosine — no K-sized driver or
    broadcast structure anywhere. Meta-cell skew in the join is AQE's to
    split (the key is data-dependent, the same class as the LSH band
    join).

    Fine scoring ranks by the core's micro-units with ties to the
    smaller fine cell_id, as ``_nearest_cells`` does, so with
    ``route_n`` ≥ the meta-cell count the output EQUALS the flat kernel
    row-for-row (tested for probes and assignments); at small
    ``route_n`` it is the approximate router (recall tested)."""
    fine = centroids.select(
        F.col("cell_id").alias("fine_id"), F.col("c_emb").alias("f_emb")
    )
    # cached: consumed twice (live-meta filter + candidate join); K rows
    # — linear in the centroid count, never in the corpus
    fine_routes = scoped_cache(_nearest_cells(
        fine, "fine_id", "f_emb", meta_centroids, top_n=1
    ).withColumnRenamed("cell_id", "meta_id"))
    # rows route against NON-EMPTY metas only (metas that won ≥1 fine
    # centroid): a meta cell can be nearest to a vector without being
    # any fine centroid's single route target, and a vector whose
    # route_n picks were ALL such empty cells would silently get zero
    # candidates — on the assignment side, a silently dropped vector.
    # Filtering empty metas (FAISS probes non-empty lists the same way)
    # guarantees every row ≥1 candidate, never changes the full-route
    # result (empty metas contribute nothing), and can only improve
    # recall at fixed route_n.
    live_meta = meta_centroids.join(
        fine_routes.select(F.col("meta_id").alias("cell_id")).distinct(),
        "cell_id", "left_semi",
    )
    routes = _nearest_cells(
        df, id_col, emb_col, live_meta, top_n=route_n
    ).withColumnRenamed("cell_id", "meta_id")
    # (row, fine) pairs are unique: each fine centroid has exactly ONE
    # meta route, so no post-join dedup is needed before ranking
    cand = routes.join(fine_routes, "meta_id")

    from pyspark.sql import Window

    # the rank window's shuffle moves route_n·K/√K skinny candidate rows
    # PER ROW of df — on the assignment path the whole corpus — so the
    # output stays skinny and the embeddings ride only in the scorer
    scored = _paired_cosine_ri(cand, id_col, emb_col, "fine_id", "f_emb")
    w = Window.partitionBy(id_col).orderBy(F.desc("ri"), F.asc("fine_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_n)
        .select(id_col, F.col("fine_id").alias("cell_id"))
    )


def ivf_cells(df: DataFrame, id_col: str, emb_col: str, centroids,
              meta_centroids: DataFrame | None = None, *, top_n: int,
              route_n: int = META_ROUTE_PROBES) -> DataFrame:
    """(id_col, emb_col, cell_id): the top-``top_n`` IVF cells of every
    row of ``df`` — THE flat-versus-routed dispatch every IVF path
    takes, so assignment and probe selection cannot pick different
    geometry. ``meta_centroids=None`` runs the flat :func:`_nearest_cells`
    (``centroids`` a frame or its :func:`_gated_centroids` collect,
    refused past ``MAX_BROADCAST_QUERIES``); a meta layer runs the
    routed :func:`_routed_cells` over the ``centroids`` frame and
    re-attaches the vectors after the top-``top_n`` cut, on a join by
    id (``top_n`` rows per id — the rank shuffle itself stays skinny)."""
    if meta_centroids is None:
        return _nearest_cells(df, id_col, emb_col, centroids, top_n)
    kept = _routed_cells(df, id_col, emb_col, centroids, meta_centroids,
                         top_n, route_n)
    return kept.join(df.select(id_col, emb_col), id_col).select(
        id_col, emb_col, "cell_id"
    )


def ivf_assignments(em: DataFrame, centroids,
                    meta_centroids: DataFrame | None = None) -> DataFrame:
    """(vec_id, embedding, cell_id): every vector of the corpus frame
    ``em`` assigned to its nearest centroid cell (IVF build side) —
    :func:`ivf_cells` at top_n=1, argmax cosine with 6-dp HALF_UP
    rounding and ties to the smaller cell_id. ``centroids`` is any
    (cell_id, c_emb) frame or its :func:`_gated_centroids` collect —
    production passes :func:`kmeans_centroid_frame` (K ≈ √N); a meta
    layer routes the assignment past the broadcast bound."""
    return ivf_cells(em, "vec_id", "embedding", centroids, meta_centroids,
                     top_n=1)


def _ivf_probes(em: DataFrame, centroids,
                meta_centroids: DataFrame | None = None,
                queries: DataFrame | None = None) -> DataFrame:
    """(query_id, q_emb, cell_id): the top-N_PROBE cells per query —
    shared by q41, the bucketed-index probe, and the leave-one-out kNN
    audit so the probe rule cannot drift between paths. ``queries``
    overrides the default deterministic stride subset of ``em`` with any
    (query_id, q_emb) frame (the audit passes the whole corpus);
    ``centroids`` and ``meta_centroids`` must be the SAME layers the
    index/assignments were built with (the bucketed paths read them back
    from the index, so the two cannot drift)."""
    q = queries if queries is not None else _stride(
        em, QUERY_STRIDE, "query_id", "q_emb")
    return ivf_cells(q, "query_id", "q_emb", centroids, meta_centroids,
                     top_n=N_PROBE)


def _paired_cosine_ri(pairs: DataFrame, a_id: str, a_emb: str,
                      b_id: str, b_emb: str) -> DataFrame:
    """(a_id, b_id, ri): the HALF_UP micro-unit cosine of each row's two
    vectors, scored in Arrow batches on the core's ``paired`` — the
    candidate scorer of the routed selection and of the IVF rank tail.
    Output rows are SKINNY (24 B) so the rank window's shuffle never
    carries embeddings."""
    core = _cosine_core()

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:  # np.stack on an empty batch would raise
                continue
            ri = core.micro(core.paired(core.stack(pdf[a_emb]), core.stack(pdf[b_emb])))
            # positional arrays throughout: mixing indexed Series with
            # the positional ri array would re-align rows if a batch
            # ever arrived with a non-default index
            yield pd.DataFrame({
                a_id: pdf[a_id].to_numpy(),
                b_id: pdf[b_id].to_numpy(),
                "ri": ri,
            })

    return pairs.select(a_id, a_emb, b_id, b_emb).mapInPandas(
        score, f"{a_id} long, {b_id} long, ri long"
    )


def _score_and_rank_candidates(cand: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact-cosine score + per-query top-k over (query_id, q_emb,
    vec_id, embedding) candidate rows — shared tail of every IVF path.
    ``k`` is explicit because consumers truncate at DIFFERENT depths
    (TOP_K for the q41 surface, KNN_K for the vote audit): a fixed
    TOP_K here would silently pre-truncate the kNN vote whenever
    KNN_K were retuned above it.

    Scoring runs in :func:`_paired_cosine_ri`, NOT the JVM higher-order
    fold — this tail scores the O(N^1.5) candidate sets of q41/the
    bucketed probe and the CORPUS-sized candidate set of the kNN audit.
    ``ri / 1e6`` runs in the JVM: 1e6 is exactly representable, so the
    IEEE division gives the correctly rounded 6-dp double."""
    pairs = cand.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "q_emb", F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    scored = _paired_cosine_ri(
        pairs, "query_id", "q_emb", "neighbor_id", "embedding"
    ).select("query_id", "neighbor_id", (F.col("ri") / 1e6).alias("cos_sim"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str,
                 centroids: DataFrame | None = None,
                 meta_centroids: DataFrame | None = None) -> DataFrame:
    """IVF approximate top-k for the deterministic query subset against
    any centroid layers — q41's body, parameterized so production
    (k-means centroids, K ≈ √N; a k-means meta layer past the broadcast
    bound) and the oracle-stable stride default share one
    assign/probe/score/rank path. Reads the corpus once. Recall vs exact
    q40 is tested for both centroid sources and for the routed layers."""
    em = load_table(spark, "embeddings", sf_dir)
    cents = centroids if centroids is not None else _stride(em, N_CELLS_STRIDE)
    if meta_centroids is None:
        # flat: one gated collect serves both assignment and probes
        cents = _gated_centroids(cents)
    assigned = ivf_assignments(em, cents, meta_centroids)
    cand = _ivf_probes(em, cents, meta_centroids).join(assigned, "cell_id")
    return _score_and_rank_candidates(cand)


@query("q41_ann_ivf")  # rows-only check; recall vs q40 asserted in tests
def q41_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: probe the N_PROBE nearest cells per query,
    exact cosine rank within the probed shard.

    Scale: corpus is hash-partitioned by cell_id (in production:
    bucketed-by-cell parquet — see :func:`ivf_probe_bucketed`, built
    with k-means centroids at K ≈ √N via
    :func:`kmeans_centroid_frame`); each query touches N_PROBE cells.
    This query entry keeps the deterministic stride centroids so its
    row count is oracle-stable. Approximation error is bounded by probe
    count, tested as recall@k ≥ 0.6 against the exact q40 answer — on
    both the stride and the k-means centroid sets."""
    return ann_ivf_topk(spark, sf_dir)


def _duck_route(out_id: str, src: str, src_id: str, src_emb: str,
                keep: int, metas: str = "meta") -> str:
    """One routing hop as DuckDB SQL — top-``keep`` meta cells per
    ``src`` row by (rounded cosine DESC, meta_id ASC), the exact
    :func:`_nearest_cells` rule (round() is HALF_UP in both engines;
    the fold helpers are the q40-validated sequential-reduce forms).
    ``metas`` names the meta relation: fine centroids route against ALL
    metas, queries against the LIVE (non-empty) subset — mirroring
    _routed_cells' live-meta filter exactly."""
    cos = (f"round({_duck_dot(src_emb, 'm.m_emb')} / "
           f"({_duck_norm(src_emb)} * {_duck_norm('m.m_emb')}), 6)")
    return f"""
    SELECT {out_id}, meta_id FROM (
        SELECT s.{src_id} AS {out_id}, m.meta_id,
               row_number() OVER (PARTITION BY s.{src_id}
                                  ORDER BY {cos} DESC, m.meta_id) AS rn
        FROM {src} s CROSS JOIN {metas} m
    ) WHERE rn <= {keep}
    """


@query(
    "q129_two_level_probe",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cell_id, embedding AS c_emb
                   FROM embeddings WHERE vec_id % {N_CELLS_STRIDE} = 0),
    meta AS (SELECT vec_id AS meta_id, embedding AS m_emb
             FROM embeddings WHERE vec_id % {META_STRIDE} = 0),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
    fr AS ({_duck_route('cell_id', 'cents', 'cell_id', 's.c_emb', 1)}),
    live_meta AS (
        SELECT * FROM meta WHERE meta_id IN (SELECT meta_id FROM fr)
    ),
    qr AS ({_duck_route('query_id', 'q', 'query_id', 's.q_emb',
                        META_ROUTE_PROBES, metas='live_meta')}),
    cand AS (
        SELECT qr.query_id, fr.cell_id
        FROM qr JOIN fr ON qr.meta_id = fr.meta_id
    ),
    scored AS (
        SELECT c.query_id, c.cell_id,
               round({_duck_dot('q.q_emb', 'ce.c_emb')} /
                     ({_duck_norm('q.q_emb')} * {_duck_norm('ce.c_emb')}),
                     6) AS s
        FROM cand c
        JOIN q ON q.query_id = c.query_id
        JOIN cents ce ON ce.cell_id = c.cell_id
    )
    SELECT query_id, cell_id FROM (
        SELECT query_id, cell_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, cell_id) AS rn
        FROM scored
    ) WHERE rn <= {N_PROBE}
    """,
)
def q129_two_level_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level routed IVF probe selection on fully deterministic
    stride layers (fine = every 31st vector, meta = every 155th) — the
    oracle-checked surface of :func:`_routed_cells`, whose k-means
    production configuration is rows-only for the same ULP reason as
    q41. Every hop (fine→meta route, query→meta routes, fine scoring
    within routed cells, top-N_PROBE rank) is replicated in SQL with
    the q40-validated sequential-fold cosine and HALF_UP rounding.
    Reads the corpus once, and calls the routed core directly: the
    answer is the (query_id, cell_id) pairs, so no vector re-attach.

    Scale: this is the K > 100k regime's plan shape — broadcasts
    bounded at the meta layer (√K), fine scoring a meta-keyed
    distributed join (docs/SCALE.md §two-level routing; measured past
    the flat ceiling in tools/router_probe.py)."""
    em = load_table(spark, "embeddings", sf_dir)
    return _routed_cells(
        _stride(em, QUERY_STRIDE, "query_id", "q_emb"), "query_id", "q_emb",
        _stride(em, N_CELLS_STRIDE), _stride(em, META_STRIDE), N_PROBE,
    )


NEARDUP_THRESHOLD = 0.45
N_BLOCKS = 8  # B(B+1)/2 = 36 block pairs; each vector shuffles (B+1)× total
# cross-product chunk edge: temporaries ≤ CH²·8 B (~134 MB at 4096)
BLOCK_CHUNK_ROWS = 4096


def _block_cogroup(spark: SparkSession, sf_dir: str):
    """Driver-side scaffolding shared by both block kernels: vectors hash
    into B blocks; returns the (left, right) frames keyed by the
    B(B+1)/2 unordered block pairs, ready to cogroup. NOTHING is
    materialized on the driver — both sides stream through the shuffle,
    so the plan survives a corpus that would OOM a collect."""
    em = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    em = em.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(N_BLOCKS)).cast("int"))
    block_pairs = spark.createDataFrame(
        [(a, b) for a in range(N_BLOCKS) for b in range(N_BLOCKS) if a <= b],
        "ba int, bb int",
    )
    left = (
        em.alias("ea")
        .join(F.broadcast(block_pairs.alias("pa")), F.col("ea.blk") == F.col("pa.ba"))
        .select(
            F.col("pa.ba").alias("ba"), F.col("pa.bb").alias("bb"),
            F.col("ea.vec_id").alias("vec_id"), F.col("ea.embedding").alias("embedding"),
        )
    )
    right = (
        em.alias("eb")
        .join(F.broadcast(block_pairs.alias("pb")), F.col("eb.blk") == F.col("pb.bb"))
        .select(
            F.col("pb.ba").alias("ba"), F.col("pb.bb").alias("bb"),
            F.col("eb.vec_id").alias("vec_id"), F.col("eb.embedding").alias("embedding"),
        )
    )
    return left, right


def _chunked_block_kernel(empty, emit, chunk_rows):
    """One cogroup kernel body shared by both block kernels, chunking
    the core's cross products. ``emit(parts, diagonal, lids, rids, cos)``
    appends result DataFrames per chunk; ``empty()`` supplies the mode's
    empty frame. All three callables are NESTED functions (cloudpickle
    serializes them by value), keeping the shipped closure
    self-contained — no module-reference imports on executors.

    Chunking: temporaries stay ≤ CH² × 8 B regardless of block row
    counts, so a block-size miscalibration degrades to more chunks,
    never an executor OOM."""
    core = _cosine_core()

    def kernel(l, r):
        import pandas as pd

        if len(l) == 0 or len(r) == 0:
            return empty()
        la = core.stack(l["embedding"])
        rb = core.stack(r["embedding"])
        lids = l["vec_id"].to_numpy(dtype="int64")
        rids = r["vec_id"].to_numpy(dtype="int64")
        lnorm = core.norms(la)
        rnorm = core.norms(rb)
        # diagonal groups hold the SAME block on both sides, so the cos
        # matrix covers every ordered pair within the block
        diagonal = l["ba"].iloc[0] == l["bb"].iloc[0]
        parts = []
        CH = chunk_rows
        for i0 in range(0, len(la), CH):
            i1 = min(i0 + CH, len(la))
            for j0 in range(0, len(rb), CH):
                j1 = min(j0 + CH, len(rb))
                cos = core.dots(la[i0:i1], rb[j0:j1]) / (
                    lnorm[i0:i1, None] * rnorm[None, j0:j1])
                emit(parts, diagonal, lids[i0:i1], rids[j0:j1], cos)
        return pd.concat(parts, ignore_index=True) if parts else empty()

    return kernel


def _block_pairs_cosine(spark: SparkSession, sf_dir: str,
                        threshold: float) -> DataFrame:
    """Distributed exact all-pairs cosine ≥ threshold via the block
    self-join (see :func:`_block_cogroup` / :func:`_chunked_block_kernel`
    for the shared scaffolding). Emits UNORDERED pairs once each
    (vec_a < vec_b). The threshold prefilter keeps raw ≥
    threshold − 5e-7 (half the 6-dp rounding quantum) so the caller's
    rounded cut decides, never the prefilter.

    Scale: O(N²/B²) work per group, N·(B+1) rows shuffled; N_BLOCKS is
    the parallelism knob (B(B+1)/2 tasks; production sizes
    B ≈ √(N²/target_task_work)). Work is quadratic by nature (it is the
    exact ground truth) — the subquadratic production paths are q41
    (IVF) and q96 (hyperplane LSH)."""
    left, right = _block_cogroup(spark, sf_dir)
    thresh = threshold  # closure LOCALS (module globals pickle by reference)

    def empty():
        import numpy as np
        import pandas as pd

        return pd.DataFrame({
            "vec_a": np.array([], dtype="int64"),
            "vec_b": np.array([], dtype="int64"),
            "cos_raw": np.array([], dtype="float64"),
        })

    def emit(parts, diagonal, lids, rids, cos):
        import numpy as np
        import pandas as pd

        keep = cos >= thresh - 5e-7
        if diagonal:
            # both orientations of every pair are present in the
            # diagonal group — the id order dedupes them
            keep &= lids[:, None] < rids[None, :]
        ii, jj = np.nonzero(keep)
        a = lids[ii]
        b = rids[jj]
        if not diagonal:
            # off-diagonal group: each unordered pair appears exactly
            # once, in block (not id) orientation — normalize
            a, b = np.minimum(a, b), np.maximum(a, b)
        parts.append(pd.DataFrame({"vec_a": a, "vec_b": b, "cos_raw": cos[ii, jj]}))

    kernel = _chunked_block_kernel(empty, emit, BLOCK_CHUNK_ROWS)
    return (
        left.groupby("ba", "bb")
        .cogroup(right.groupby("ba", "bb"))
        .applyInPandas(kernel, "vec_a long, vec_b long, cos_raw double")
    )


def _block_topk_cosine(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Directed per-query top-k over the exact all-pairs cosine, on the
    block self-join kernel — q120's self-kNN, where the query set IS the
    corpus and so never ships to the driver. Emits (query_id,
    neighbor_id, cos_raw) rows, pruned per chunk by the core's margin
    ``top_k``; the caller's window does the final rank.

    Scale: same shuffle shape as :func:`_block_pairs_cosine` (N·(B+1)
    rows, B(B+1)/2 tasks, chunked O(CH²) temporaries); output is
    O(N · B · k · chunks-per-block) rows, never N²."""
    left, right = _block_cogroup(spark, sf_dir)
    core = _cosine_core()

    def empty():
        import numpy as np
        import pandas as pd

        return pd.DataFrame({
            "query_id": np.array([], dtype="int64"),
            "neighbor_id": np.array([], dtype="int64"),
            "cos_raw": np.array([], dtype="float64"),
        })

    def emit(parts, diagonal, lids, rids, cos):
        import numpy as np
        import pandas as pd

        def one_direction(qids, nids, mat):
            ii, jj = np.nonzero(core.top_k(mat, qids, nids, k))
            parts.append(pd.DataFrame({
                "query_id": qids[ii],
                "neighbor_id": nids[jj],
                "cos_raw": mat[ii, jj],
            }))

        # the diagonal group's l→r orientation already enumerates every
        # ordered pair; off-diagonal groups need the transpose too
        one_direction(lids, rids, cos)
        if not diagonal:
            one_direction(rids, lids, cos.T)

    kernel = _chunked_block_kernel(empty, emit, BLOCK_CHUNK_ROWS)
    return (
        left.groupby("ba", "bb")
        .cogroup(right.groupby("ba", "bb"))
        .applyInPandas(kernel, "query_id long, neighbor_id long, cos_raw double")
    )


@query(
    "q42_embed_neardup",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({_duck_dot('a.embedding', 'b.embedding')}
                     / ({_duck_norm('a.embedding')} * {_duck_norm('b.embedding')}), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {NEARDUP_THRESHOLD}
    """,
)
def q42_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine high-similarity pairs (cos ≥ 0.45), exact — on the
    DISTRIBUTED block self-join kernel: no driver-side materialization of
    the corpus anywhere in the plan.

    (Threshold is data-driven: the synthetic embeddings max out near
    cos ≈ 0.55 pairwise, so a production-style 0.98 dedup cut would
    select nothing — 0.45 keeps the operator observable end-to-end.)

    Scale caveat (by design, like q36): all-pairs is the oracle-checkable
    ground truth and stays quadratic in WORK, but now distributes —
    B(B+1)/2 block-pair tasks, N·(B+1) rows shuffled, O((N/B)²) memory
    per task. The subquadratic production paths are q41 (IVF) and q96
    (hyperplane-LSH candidates + exact verify)."""
    scored = _block_pairs_cosine(spark, sf_dir, NEARDUP_THRESHOLD)
    return (
        scored.select(
            "vec_a",
            "vec_b",
            F.round(F.col("cos_raw"), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEARDUP_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Hyperplane-LSH near-dup: the bucketed scale path for q42's semantics
# ---------------------------------------------------------------------------

LSH_N_BITS = 16
LSH_N_BANDS = 2


def _lsh_hyperplanes(n_bits: int):
    """The fixed seeded hyperplane matrix H (64 × n_bits). Driver-side
    helper for SQL generation; executor closures inline the identical
    RandomState(42) call directly (module references don't survive
    cloudpickle when the consumer's cwd isn't the repo)."""
    import numpy as np

    return np.random.RandomState(42).randn(64, n_bits)


def _lsh_band_exprs_sql(vec: str, n_bits: int = LSH_N_BITS,
                        n_bands: int = LSH_N_BANDS) -> list[str]:
    """DuckDB expressions computing the SAME banded sign-bit signature as
    the Spark kernel: the hyperplane constants are inlined as full-
    precision literals, and each dot is the sequential list_reduce fold —
    the exact addition order of the Spark-side per-dim accumulation — so
    the sign of every bit is bit-identical across engines."""
    H = _lsh_hyperplanes(n_bits)
    bpb = n_bits // n_bands
    out = []
    for b in range(n_bands):
        terms = []
        for i in range(bpb):
            lits = ", ".join(repr(float(x)) for x in H[:, b * bpb + i])
            dot = (
                f"list_reduce(list_prepend(0.0, list_transform(list_zip({vec}, [{lits}]), "
                "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
        out.append("(" + " + ".join(terms) + ")")
    return out


def hyperplane_lsh_pairs(df: DataFrame, threshold: float = 0.9,
                         n_bits: int = LSH_N_BITS, n_bands: int = LSH_N_BANDS,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH (SimHash for vectors).

    Signature: sign bits of H·v for a fixed seeded hyperplane matrix H
    (identical on every executor). Docs sharing any band of sign bits
    become candidates; candidates are verified with exact cosine.
    P(bit match) = 1 - θ/π, so recall ≈ 1 - (1-(1-θ/π)^(bits/bands))^bands
    — near 1 for cos → 1, which is the near-dup regime this targets (the
    exact q42 covers the exploratory low-threshold regime).

    Scale: signatures are 64 vectorized FMAs per Arrow batch; the band
    bucketing is q38's exact long shape — (vec_id, band, band_sig), one
    self-join on (band, band_sig) — and every shuffle up to candidate
    dedup carries IDS ONLY (two longs per pair). Embeddings attach
    AFTER dropDuplicates, via two joins against the id-pruned corpus
    scan. The earlier formulation dragged both 64-double embeddings
    through the per-band joins and the dedup shuffle (~1.1 KB/pair);
    the 100× dup-heavy probe (200k vectors, 99 exact copies each,
    ~40M pre-dedup candidates) spilled >75 GB and died on disk — the
    id-only form shuffles ~60× narrower and completes that same probe
    in 185 s (1× = 1.2 s; wall grew 156× while verify-work grew
    ~10⁴× — each vector's 99 copies share every band bucket, so
    intra-bucket pairs go from ~0 to C(100,2) per original).
    Uncapped, like the q96 oracle: no hot-bucket guard runs here.
    """
    import numpy as np
    import pandas as pd

    bits_per_band = n_bits // n_bands
    core = _cosine_core()

    def signatures(batches):
        H = np.random.RandomState(42).randn(64, n_bits)
        for pdf in batches:
            if len(pdf) == 0:  # np.stack on an empty batch would raise
                continue
            mat = core.stack(pdf[vec_col])
            if mat.shape[1] != H.shape[0]:
                # H is the FIXED seeded 64-row hyperplane matrix the SQL
                # twin (_lsh_band_exprs_sql) inlines literal-for-literal;
                # a non-64-dim vector must fail loudly — dim > 64 would
                # IndexError anyway, dim < 64 would silently truncate H
                # here while DuckDB's list_zip NULL-pads, putting every
                # SQL-side dot at NULL (all sign bits 0) and the two
                # candidate sets in silent disagreement
                raise ValueError(
                    f"hyperplane_lsh_pairs: {vec_col} has dim "
                    f"{mat.shape[1]}, but the seeded hyperplane matrix "
                    f"(and its inlined SQL twin) is fixed at {H.shape[0]}"
                )
            bits = core.dots(mat, H.T) > 0  # bit-identical to the oracle's
            # the id column is ALIASED to vec_id in the select feeding
            # mapInPandas, so index the batch by that name — pdf[id_col]
            # raised KeyError for any non-default id_col
            out = {"vec_id": pdf["vec_id"].to_numpy(dtype="int64")}
            for b in range(n_bands):
                chunk = bits[:, b * bits_per_band:(b + 1) * bits_per_band]
                out[f"band{b}"] = chunk.dot(1 << np.arange(chunk.shape[1])).astype("int64")
            yield pd.DataFrame(out)

    band_schema = ", ".join([f"band{b} long" for b in range(n_bands)])
    stack_args = ", ".join(f"{b}, band{b}" for b in range(n_bands))
    bands = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col)).mapInPandas(
        signatures, f"vec_id long, {band_schema}"
    ).selectExpr(
        "vec_id", f"stack({n_bands}, {stack_args}) as (band, band_sig)"
    )
    bands = scoped_cache(bands)
    # the banded candidate self-join is THE single candidate-rule
    # definition in dedup.lsh_candidate_pairs — reuse it so a future
    # change to the rule cannot silently diverge the vector-LSH path
    # from the document-LSH path it mirrors
    from mapreduce_framework_simple_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    cand_ids = lsh_candidate_pairs(
        bands.select(F.col("vec_id").alias("doc_id"), "band", "band_sig"),
    ).select(F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"))
    emb = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
    cand = cand_ids.join(
        emb.select(
            F.col("vec_id").alias("vec_a"), F.col(vec_col).alias("emb_a")
        ),
        "vec_a",
    ).join(
        emb.select(
            F.col("vec_id").alias("vec_b"), F.col(vec_col).alias("emb_b")
        ),
        "vec_b",
    )
    # raw columns: dot_expr/norm_expr cast each element inside their
    # folds already — wrapping in to_double_array would cast everything
    # TWICE per candidate pair (the redundancy its docstring warns about)
    cos = F.round(
        dot_expr("emb_a", "emb_b") / (norm_expr("emb_a") * norm_expr("emb_b")),
        6,
    )
    return (
        cand.select("vec_a", "vec_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


_LSH_BANDS_SQL = _lsh_band_exprs_sql("embedding")
# generated from LSH_N_BANDS so a band-count retune cannot strand a
# frozen 2-band oracle against an n-band kernel
_LSH_BAND_COLS_SQL = ",\n               ".join(
    f"{expr} AS band{b}" for b, expr in enumerate(_LSH_BANDS_SQL)
)
_LSH_BAND_MATCH_SQL = " OR ".join(
    f"a.band{b} = b.band{b}" for b in range(len(_LSH_BANDS_SQL))
)
# Lower cut than q42: LSH band recall at cos≈0.45 on this weakly-clustered
# synthetic corpus keeps ~0 pairs; 0.30 keeps the operator observable
# (≈30 verified pairs at sf0.01) while exercising the identical pipeline.
NEARDUP_LSH_THRESHOLD = 0.3


@query(
    "q96_embed_neardup_lsh",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               {_LSH_BAND_COLS_SQL}
        FROM embeddings
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.embedding AS emb_a, b.embedding AS emb_b
        FROM sig a JOIN sig b
          ON a.vec_id < b.vec_id
         AND ({_LSH_BAND_MATCH_SQL})
    ),
    scored AS (
        SELECT vec_a, vec_b,
               round({_duck_dot('emb_a', 'emb_b')}
                     / ({_duck_norm('emb_a')} * {_duck_norm('emb_b')}), 6) AS cos_sim
        FROM cand
    )
    SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= {NEARDUP_LSH_THRESHOLD}
    """,
)
def q96_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LSH-bucketed — the declared 100 TB path for
    q42's semantics: hyperplane sign-bit signatures, band-bucket
    candidate join, exact-cosine verification of candidates only. No
    all-pairs join, no driver-side vector materialization anywhere.

    The oracle replicates the ENTIRE pipeline in SQL (same inlined
    hyperplane constants, same sequential fold order, so every sign bit
    and cosine is bit-identical) — this checks the operator exactly, not
    just statistically; recall vs the exact q42 is covered separately in
    tests (planted near-dups, recall ≥ 0.9 at cos ≥ 0.95).

    At exploratory thresholds the band filter keeps only a slice
    of true pairs (hyperplane LSH is built for the cos → 1 regime);
    that trade is the point — candidates stay near-linear while q42 pays
    the quadratic ground-truth cost."""
    em = load_table(spark, "embeddings", sf_dir)
    return hyperplane_lsh_pairs(em, threshold=NEARDUP_LSH_THRESHOLD)


# ---------------------------------------------------------------------------
# IVF with a physical bucketed layout: the partition-pruned probe that the
# SCALE.md design promises ("in production the corpus is bucketed by
# cell_id so a probe is a partition-pruned read, not a filter").
# ---------------------------------------------------------------------------

def write_ivf_index(spark: SparkSession, sf_dir: str, path: str,
                    centroids: DataFrame | None = None,
                    meta_centroids: DataFrame | None = None) -> None:
    """IVF build step: materialize the corpus partitioned by cell_id.
    Each Voronoi cell becomes its own parquet directory, so a probe reads
    only the probed cells' files — partition pruning at the source, the
    layout that turns IVF from a full-scan-with-filter into a
    fraction-of-corpus read at 100 TB.

    ``centroids`` (production: :func:`kmeans_centroid_frame`, K ≈ √N) is
    persisted WITH the index under ``<path>/_centroids`` — the
    underscore prefix makes Spark's file listing skip it on the main
    index read — so every probe path reads back the exact centroid set
    the cells were built from; index and probe geometry cannot drift.
    None keeps the deterministic stride stand-in (oracle/test use) —
    and the STRIDE set is persisted too, so every complete index carries
    its geometry and a missing sidecar is unambiguous evidence of a
    partial build (the write order is index-then-sidecar because
    overwrite mode clears ``path`` first; :func:`_index_centroids`
    therefore treats an absent sidecar as fail-fast, never as a
    fallback — probing a k-means index with stride geometry would
    return silently wrong neighbors).

    The assignment frame is repartitioned BY CELL before the
    partitionBy write: without it every write task holds rows of most
    cells, so the layout fans out to tasks × K files (measured at the
    100× probe: 14,320 files for 447 cells, and the build was
    write-dominated at 190 s; with the shuffle: one file per cell,
    118 s — the remainder is the N·K assignment compute, not the
    write). At index scale (K = 10⁵ cells, 10³ write tasks) the
    unshuffled form is ~10⁸ tiny files — a listing/metadata failure
    mode, not just slow. One extra corpus shuffle is the right trade
    for a write-once index.

    ``meta_centroids`` (K > MAX_BROADCAST_QUERIES regime) routes the
    assignment through :func:`ivf_cells`' two-level branch and persists
    the meta layer under ``<path>/_meta_centroids``; every probe path
    reads both layers back, so build and probe geometry (routing layer
    included) cannot drift. Without one, the build's single
    :func:`size_gate` collect of the centroid set decides: within
    ``MAX_BROADCAST_QUERIES`` its rows are the flat broadcast; past it
    the meta layer is AUTO-BUILT at the production sizing,
    ``kmeans_centroid_frame(k=⌈√K⌉)``, and the build routes instead of
    hitting :func:`_nearest_cells`' refusal."""
    import math

    em = load_table(spark, "embeddings", sf_dir)
    # cached: the centroid frame has up to three consumers per build (the
    # size gate, the routed assignment, the _centroids sidecar write) —
    # K rows, linear in the centroid count, never the corpus; without
    # the cache a corpus-derived frame re-scans its source for each
    cents = scoped_cache(
        centroids if centroids is not None else _stride(em, N_CELLS_STRIDE)
    )
    fits = False
    if meta_centroids is None:
        fits, fine = size_gate(cents.select("cell_id", "c_emb"),
                               MAX_BROADCAST_QUERIES, collect=True)
    # Index contract: cell ids are NON-NEGATIVE. Both in-tree centroid
    # sources satisfy it by construction (kmeans enumerates 0..K-1, the
    # stride stand-in reuses non-negative vec_ids); enforcing it here is
    # what lets ivf_probe_bucketed state `cell_id >= 0` as the selective
    # predicate Catalyst's dynamic partition pruning requires, without
    # ever silently dropping a cell. NULL is as fatal as negative: NULL
    # rows land in the __HIVE_DEFAULT_PARTITION__ directory, which the
    # probe can never select. The collected flat set is checked with no
    # job; a routed build checks the cached frame with one tiny action.
    if fits:
        ids = fine["cell_id"]
        bad = bool(ids.isna().any() or (ids.dropna() < 0).any())
    else:
        fine = cents
        bad = cents.where(F.col("cell_id").isNull() | (F.col("cell_id") < 0)
                          ).limit(1).count() > 0
    if bad:
        raise ValueError(
            "centroid frame carries NULL or negative cell_id values; the "
            "IVF index contract requires non-negative cell ids (probe-"
            "side partition pruning states cell_id >= 0)"
        )
    if not fits and meta_centroids is None:
        meta_centroids = kmeans_centroid_frame(
            spark, sf_dir, k=math.ceil(math.sqrt(cents.count()))
        )
    ivf_assignments(em, fine, meta_centroids).repartition(
        "cell_id"
    ).write.partitionBy("cell_id").mode("overwrite").parquet(path)
    cents.write.mode("overwrite").parquet(path + "/_centroids")
    if meta_centroids is not None:
        meta_centroids.write.mode("overwrite").parquet(
            path + "/_meta_centroids"
        )


def _index_centroids(spark: SparkSession, index_path: str):
    """(centroids, meta layer or None): the layers persisted with a
    bucketed IVF index, as :func:`ivf_cells` takes them.

    A missing ``_centroids`` sidecar means the build died between the
    index write and the sidecar write (or a pre-sidecar legacy layout):
    raise rather than guess — a probe against assumed geometry returns
    wrong neighbors silently. A missing ``_meta_centroids`` is a VALID
    state (flat indexes carry no meta layer). A routed build that died
    between the two sidecar writes reads back as flat — which probes
    the routed corpus with flat selection: the same candidate cells
    ranked over ALL fine centroids instead of the routed subset,
    equal-or-better recall, never wrong geometry — and past the
    broadcast bound the flat probe refuses loudly anyway."""
    def read(name):
        try:
            return spark.read.parquet(f"{index_path}/{name}")
        except AnalysisException:
            return None

    cents = read("_centroids")
    if cents is None:
        raise ValueError(
            f"IVF index at {index_path!r} has no _centroids sidecar: the "
            "index write did not complete (or predates sidecar layouts). "
            "Rebuild it with write_ivf_index — probing with assumed "
            "centroid geometry would silently return wrong neighbors."
        )
    return cents, read("_meta_centroids")


def ivf_probe_bucketed(spark: SparkSession, sf_dir: str, index_path: str) -> DataFrame:
    """Approximate top-k against the bucketed IVF index — q41's answer,
    but the candidate read is PARTITION-PRUNED: a broadcast LEFT SEMI
    join on the probed cell ids (a few ints per query, from the tiny
    query×centroid ranking — bounded by Q·N_PROBE and by K, never
    corpus-sized) prunes the index scan, and dynamic partition pruning
    skips unprobed directories at runtime. No driver structure holds
    the probe set. The probe geometry — routing layer included — comes
    from the layers stored WITH the index (:func:`_index_centroids`).
    Tests assert result equality with q41, equality with DPP disabled,
    and the pruning shape of the plan."""
    em = load_table(spark, "embeddings", sf_dir)
    # cached so the pruning side and the candidate join share one
    # computation of the centroid ranking
    probes = scoped_cache(_ivf_probes(em, *_index_centroids(spark, index_path)))
    # `cell_id >= 0` is the index CONTRACT (enforced at build by
    # write_ivf_index), restated here because Catalyst's dynamic
    # partition pruning only inserts its runtime subquery when the
    # filtering side carries a likely-selective predicate
    # (PartitionPruning.hasPartitionPruningFilter) — the probe side's
    # real selectivity (Q·N_PROBE of K cells) hides inside the cached
    # plan. With it, the bucketed scan's PartitionFilters gain
    # dynamicpruningexpression(cell_id IN <subquery>) reusing the
    # semi-join's broadcast.
    cells = probes.select("cell_id").distinct().where(F.col("cell_id") >= 0)
    idx = spark.read.parquet(index_path).join(F.broadcast(cells), "cell_id", "left_semi")
    # the probes cache stays live for the returned (lazy) plan: it is
    # Q·N_PROBE rows — bounded driver-of-the-query state, one small DF
    return _score_and_rank_candidates(probes.join(idx, "cell_id"))


@query(
    "q109_centroid_assign",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
               FROM embeddings),
    ex AS (SELECT label, generate_subscripts(vec, 1) AS pos, unnest(vec) AS x
           FROM e),
    cd AS (SELECT label AS clabel, pos,
                  CAST(sum(CAST(round(x * 1e12) AS HUGEINT)) AS DOUBLE)
                      / (1e12 * count(*)) AS cx
           FROM ex GROUP BY 1, 2),
    cent AS (SELECT clabel, list(cx ORDER BY pos) AS cvec FROM cd GROUP BY 1),
    scored AS (SELECT e.vec_id, e.label, cent.clabel,
                      round({_duck_dot('e.vec', 'cent.cvec')}
                            / ({_duck_norm('e.vec')} * {_duck_norm('cent.cvec')}),
                            9) AS cos
               FROM e CROSS JOIN cent),
    pred AS (SELECT vec_id, label, clabel AS pred_label
             FROM (SELECT *, row_number() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, clabel ASC) AS rn
                   FROM scored)
             WHERE rn = 1)
    SELECT label, CAST(pred_label AS INT) AS pred_label,
           CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY label, pred_label
    """,
)
def q109_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification over the embedding corpus: average
    each label's vectors into a centroid, assign every vector to its
    highest-cosine centroid, and report the label × predicted-label
    confusion counts — the standard cluster-purity / probe-classifier
    check run on embedding tables before using them for curation.

    Scale: the centroid build is one posexplode + (label, pos) partial
    aggregation — corpus-sized map work but a tiny shuffle (labels × dim
    rows). Centroids then BROADCAST (labels × dim doubles — KBs), so
    assignment is a map-side cross product with 10 fused dot products per
    row and zero shuffle; the confusion aggregation moves ≤ labels² rows.
    Cosines are rounded to 9 dp before the argmax so a 1-ULP libm
    difference can never flip the winner across engines; ties break to
    the smaller label in both (max_by on (cos, -label)). Centroid
    coordinates are FIXED-POINT sums (exact integer pico-units /1e12,
    decimal/HUGEINT — a float avg() merges partials in layout-dependent
    order, drifting centroids by several ULPs across partitionings; the
    ≤1e-12 quantization sits three orders below the 0.5e-9 cosine
    rounding quantum)."""
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", to_double_array("embedding").alias("vec")
    )
    cent = (
        e.select("label", F.posexplode("vec").alias("pos", "x"))
        .groupBy(F.col("label").alias("clabel"), F.col("pos"))
        .agg(
            (
                F.sum(F.round(F.col("x") * 1e12).cast("decimal(38,0)")).cast("double")
                / (1e12 * F.count("*"))
            ).alias("cx")
        )
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s.cx,
            ).alias("cvec")
        )
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(
            dot_expr("vec", "cvec") / (norm_expr("vec") * norm_expr("cvec")), 9
        ).alias("cos"),
    )
    pred = scored.groupBy("vec_id", "label").agg(
        F.max_by(
            "clabel", F.struct(F.col("cos"), (-F.col("clabel")).cast("double"))
        ).alias("pred_label")
    )
    return pred.groupBy("label", "pred_label").agg(F.count("*").alias("n"))


KNN_K = 3


def _knn_vote_predictions(top: DataFrame, labels: DataFrame) -> DataFrame:
    """(query_id, pred_label) from ranked neighbor rows (query_id,
    neighbor_id, rnk) — THE single definition of the kNN vote rule
    (majority label, tied counts fall back to the nearest neighbor via
    min best_rank), shared by the exact q120 and the IVF audit twin so
    the two paths cannot diverge on tie handling. ``labels`` maps
    (neighbor_id, nlabel); unhinted join (corpus-sized at scale)."""
    votes = top.join(labels, "neighbor_id")
    grp = votes.groupBy("query_id", "nlabel").agg(
        F.count("*").alias("cnt"), F.min("rnk").alias("best_rank")
    )
    return grp.groupBy("query_id").agg(
        F.max_by(
            "nlabel", F.struct(F.col("cnt"), (-F.col("best_rank")).alias("nr"))
        ).alias("pred_label")
    )


def ivf_knn_predictions(em: DataFrame, index_path: str) -> DataFrame:
    """(query_id, pred_label) leave-one-out kNN predictions for EVERY
    vector of the corpus frame ``em``, on the bucketed IVF index: each
    vector probes its N_PROBE nearest cells and votes over its KNN_K
    nearest neighbors within them — exact cosine there, q120's rounding
    and vote rule (:func:`_knn_vote_predictions`). Probe geometry —
    routing layer included — comes from the layers stored with the
    index. A vector whose probed cells hold no other vectors yields no
    prediction row — the confusion wrapper surfaces those as NULL
    pred_label rather than dropping them."""
    spark = em.sparkSession
    all_q = em.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probes = _ivf_probes(em, *_index_centroids(spark, index_path), queries=all_q)
    idx = spark.read.parquet(index_path)
    # rank explicitly at KNN_K depth — the default TOP_K truncation
    # would silently clip the vote set if KNN_K were ever raised past it
    top = _score_and_rank_candidates(
        probes.join(idx, "cell_id"), k=KNN_K
    )
    labels = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    return _knn_vote_predictions(top, labels)


def ivf_knn_confusion(
    spark: SparkSession, sf_dir: str, index_path: str
) -> DataFrame:
    """Leave-one-out kNN audit on the BUCKETED IVF INDEX — q120's
    semantics on the subquadratic path, returning the same
    (label, pred_label, n) confusion schema. Vectors whose probed cells
    hold no other vectors appear with NULL pred_label (truth-side left
    join) instead of vanishing — every corpus vector is accounted for.
    Flat and routed indexes alike: the probe takes the index's own
    layers.

    Scale — stated precisely, since the query side here IS the corpus:
    with K centroids, probe selection costs N·K cosines against a
    broadcast K-row centroid table, and the candidate join (probes ⋈
    index on cell_id, both sides shuffled once by cell, no broadcast of
    anything corpus-sized) costs N·N_PROBE·(N/K). Under the production
    configuration — an index built with ``centroids=``
    :func:`kmeans_centroid_frame` (K ≈ √N k-means centroids, read back
    from the index here) — BOTH terms are O(N^1.5·n_probe), the audit's
    win over exact q120's O(N²), and the centroid table is √N rows
    (~10^5 at 10^10 vectors), comfortably broadcastable. A stride-built
    index (K = N/31, kept for oracle determinism) lacks that sizing —
    its probe-selection term is N²/31 — so production indexes pass
    k-means centroids; the whole plan is identical either way. Per-query
    agreement with the exact q120 is asserted ≥ 0.55 in tests on BOTH
    centroid sources at sf0.001 (weakly-clustered synthetic embeddings;
    agreement is governed by probe coverage exactly like q41's recall ≥
    0.6 — real embedding corpora cluster far tighter)."""
    em = load_table(spark, "embeddings", sf_dir)
    truth = em.select(F.col("vec_id").alias("query_id"), "label")
    return (
        truth.join(ivf_knn_predictions(em, index_path), "query_id", "left")
        .groupBy("label", "pred_label")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q120_knn_accuracy",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               round({_duck_dot('a.embedding', 'b.embedding')}
                     / ({_duck_norm('a.embedding')} * {_duck_norm('b.embedding')}), 6)
                   AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    ),
    votes AS (SELECT r.query_id, l.label AS nlabel, r.rnk
              FROM ranked r JOIN embeddings l ON l.vec_id = r.neighbor_id
              WHERE r.rnk <= {KNN_K}),
    grp AS (SELECT query_id, nlabel, count(*) AS cnt, min(rnk) AS best_rank
            FROM votes GROUP BY 1, 2),
    pred AS (SELECT query_id, nlabel AS pred_label
             FROM (SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cnt DESC, best_rank ASC) AS pr
                   FROM grp)
             WHERE pr = 1)
    SELECT t.label, CAST(p.pred_label AS INT) AS pred_label,
           CAST(count(*) AS BIGINT) AS n
    FROM pred p JOIN embeddings t ON t.vec_id = p.query_id
    GROUP BY 1, 2
    """,
)
def q120_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification audit: every vector is classified by majority
    label of its 3 nearest neighbors (cosine; tied vote counts fall back
    to the nearest neighbor's label — min(best_rank) makes the rule
    total and deterministic) and the label × predicted-label confusion
    counts come back — the standard leave-one-out check of whether an
    embedding space separates its labels, run before trusting embeddings
    for curation. Complements q109 (centroid parametric twin).

    Scale: one kernel at every size, the directed block self-join
    (:func:`_block_topk_cosine` — same chunked distributed shape as
    q42, per-chunk margin top-k pruning, self excluded in-kernel); the
    corpus never reaches the driver. The kernel emits a margin-pruned
    superset of the global rounded top-k, so the one window shuffle
    carries O(N·k·blocks) rows, not N². Cosines are rounded to 6 dp
    before ranking, so neighbor order cannot flip across engines. Exact
    self-kNN work stays quadratic by definition — the measured
    subquadratic audit for 100 TB use is :func:`ivf_knn_confusion`
    (same vote rule, IVF-probed candidates, agreement-tested against
    this query)."""
    em = load_table(spark, "embeddings", sf_dir)
    scored = _block_topk_cosine(spark, sf_dir, KNN_K).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_raw"), 6).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    top = scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= KNN_K)
    # per-vector label map: unhinted (a hint is unconditional; the map is
    # corpus-sized at scale) — broadcast under the threshold, shuffled
    # join on the O(N·k) top list beyond it
    labels = em.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    pred = _knn_vote_predictions(top, labels)
    truth = em.select(F.col("vec_id").alias("query_id"), "label")
    return (
        pred.join(truth, "query_id")
        .groupBy("label", "pred_label")
        .agg(F.count("*").alias("n"))
    )

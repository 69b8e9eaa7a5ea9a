#!/usr/bin/env python
"""Two-level IVF router probe: run probe selection in the EXACT regime
the flat path refuses (K > MAX_BROADCAST_QUERIES = 100k centroids).

Builds a 100× replica of sf0.1 embeddings (200k × 64-dim vectors), takes
a 150k-vector subset as the fine-centroid frame — past the flat broadcast
ceiling — and:
  1. asserts the flat branch of the IVF dispatch (`_ivf_probes` with no
     meta layer) fails loudly at K=150k (the ceiling),
  2. runs the routed branch end-to-end over the deterministic query
     subset with a k-means meta layer at k = ceil(sqrt(K)) ≈ 388,
     timing the meta build, then the fine-route build and the probe.

Numbers land in docs/SCALE.md §"Two-level IVF routing". Run on a quiet
box: python tools/router_probe.py
"""
from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from pyspark.sql import functions as F
    from replica import ensure_replica, replicate_table

    from mapreduce_framework_simple_spark.operators import similarity as S
    from mapreduce_framework_simple_spark.session import get_session
    from mapreduce_framework_simple_spark.sources.io import DEFAULT_SF_DIR, load_table

    spark = get_session("router-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def build(dst: str) -> None:
        replicate_table(
            load_table(spark, "embeddings", DEFAULT_SF_DIR), "vec_id", 100
        ).write.mode("overwrite").parquet(os.path.join(dst, "embeddings.parquet"))

    dst = ensure_replica("/tmp/mfss_router_x100", build)
    emb_path = os.path.join(dst, "embeddings.parquet")

    em = spark.read.parquet(emb_path)
    n = em.count()
    # fine "centroids": a deterministic 3/4 subset — the point is the
    # COUNT (past the broadcast bound), not centroid quality
    fine = em.where(F.pmod(F.col("vec_id"), F.lit(4)) != 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    k_fine = fine.count()
    print(f"corpus N={n}, fine centroids K={k_fine} "
          f"(bound {S.MAX_BROADCAST_QUERIES})")
    assert k_fine > S.MAX_BROADCAST_QUERIES

    # 1. the flat path must refuse this K loudly
    try:
        S._ivf_probes(em, fine)
        print("FLAT PATH DID NOT REFUSE — BUG")
        sys.exit(1)
    except ValueError as e:
        print(f"flat path refused as designed: {str(e)[:80]}...")

    # 2. the router runs it: meta layer at ceil(sqrt(K))
    k_meta = math.ceil(math.sqrt(k_fine))
    t0 = time.perf_counter()
    # meta centroids via the UNCHANGED kmeans_centroid_frame over the
    # replica corpus (the production recipe: k = ceil(sqrt(K)))
    meta = S.kmeans_centroid_frame(spark, dst, k=k_meta)
    meta.count()
    t_meta = time.perf_counter() - t0
    print(f"meta k-means k={k_meta}: {t_meta:.1f}s")

    t0 = time.perf_counter()
    n_out = S._ivf_probes(em, fine, meta).count()
    t_probe = time.perf_counter() - t0
    n_q = S._stride(em, S.QUERY_STRIDE).count()
    print(
        f"routed probes: {n_out} probe rows for {n_q} queries x "
        f"K={k_fine} in {t_probe:.1f}s (route_n={S.META_ROUTE_PROBES}, "
        f"broadcasts bounded at {k_meta} meta rows)"
    )
    spark.stop()


if __name__ == "__main__":
    main()

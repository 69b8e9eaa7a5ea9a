"""End-to-end training-data curation pipeline.

Composes the declared operators into the pass a pretraining pipeline
actually runs over a raw corpus, in the standard order (cheap row-local
gates first, pairwise-ish work last, every stage narrowing the next
stage's input):

1. **quality gate** — Gopher-style integer-threshold rules (q98);
2. **exact dedup** — keep min doc_id per normalized-text hash (q35);
3. **near-dup collapse** — MinHash-LSH pairs → connected components →
   keep each component's representative (q38/q79/q89);
4. **decontamination** — drop docs overlapping the benchmark probe set
   above a shingle-containment threshold (q91);
5. **curated write** — parquet of survivors + a one-row audit report.

Each stage calls the function its query's oracle hash-verifies
(``gopher_flags``, ``exact_dup_groups``, ``contamination``, …) on the
one corpus frame ``curate`` reads and caches; the composition test
(tests/test_pipeline.py) asserts the audit invariants (stage counts
telescope; survivors contain no exact-dup pair and no near-dup pair; no
survivor exceeds the contamination cut).

Scale: stage order is the scale argument — the quality gate is a
map-side filter that typically removes a large corpus fraction before
any shuffle; exact dedup is one 16-byte-key shuffle; the LSH stages run
on the doubly-thinned corpus; the decontamination probe joins in
AQE-planned (broadcast while small — a real benchmark probe is tiny —
shuffled beyond; the in-repo stand-in is corpus-proportional, so it is
never force-broadcast). Nothing here collects the corpus to the driver;
the report is a handful of scalar aggregates.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_simple_spark.operators.dedup import (
    band_signatures_from,
    cap_hot_buckets,
    connected_components,
    contamination,
    exact_dup_groups,
    lsh_candidate_pairs,
    shingle_sets_from,
)
from mapreduce_framework_simple_spark.operators.text import (
    gopher_flags,
    shingles_expr,
    tokens_expr,
)
from mapreduce_framework_simple_spark.sources.io import load_table

CONTAMINATION_MAX = 0.5  # drop docs with > 50% probe-shingle overlap


def curate(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Run the full curation pass; write survivors to ``out_dir`` and
    return the audit report (python ints — driver-sized by construction).
    The near-dup stage drops hot LSH buckets with q38's guard,
    :func:`~mapreduce_framework_simple_spark.operators.dedup.cap_hot_buckets`,
    at ``dedup.LSH_MAX_BUCKET``.

    Audit-count design: no count is an extra pass over a corpus-sized
    frame. ``n_total`` and ``n_after_quality`` come from one aggregate
    over the flagged corpus, the action that fills its cache;
    ``n_after_exact_dedup`` counts the cached exact-dup groups (one kept
    id each); the near-dup and contamination counts are counts of cached
    id-only drop lists. Never count with Observation metrics: they
    over-count whenever a cached frame is recomputed (concurrent stages,
    executor loss). ``n_curated`` is the READ-BACK count of the written
    parquet — a metadata-only footer scan — so the report describes what
    was durably persisted, not the plan. All internal caches (including
    the LSH stage's band signatures) are released on exit via
    ``cache_scope``. The near-dup stage's :func:`connected_components`
    result is QUERY-SCOPED (checkpoint-backed — see its docstring /
    KNOWN_LIMITS §17); this pipeline satisfies the contract by
    materializing the drop list and writing survivors before the scope
    exit frees the blocks."""
    from mapreduce_framework_simple_spark.ephemeral import cache_scope, scoped_cache

    with cache_scope():
        # the only cache of the whole corpus: later stages and the probe read it
        docs = load_table(spark, "documents", sf_dir)
        flagged = scoped_cache(gopher_flags(docs).select(*docs.columns, "keep"))

        # 1. quality gate; sum() over zero rows is NULL
        n_total, n_gated = flagged.agg(
            F.count("*"), F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0))
        ).first()
        gated = flagged.where(F.col("keep")).select(*docs.columns)

        # 2. exact dedup: keep min doc_id per normalized-text hash
        groups = scoped_cache(exact_dup_groups(gated))
        n_exact = groups.count()
        exact = scoped_cache(
            gated.join(groups.select(F.col("keep_doc_id").alias("doc_id")), "doc_id")
        )

        # 3. near-dup collapse on the thinned corpus: LSH pairs →
        #    components → drop non-representatives. The drop list is
        #    id-only but DUP-PROPORTIONAL (grows with the corpus), so it
        #    is deliberately UNHINTED — a hint is unconditional; unhinted
        #    the strategy is planned from the frame's actual (cached /
        #    stage-boundary) size: broadcast while it is genuinely tiny,
        #    shuffled anti-join beyond (the q03/q05 policy).
        bands = scoped_cache(band_signatures_from(exact))
        pairs = lsh_candidate_pairs(cap_hot_buckets(bands, "curate")[0])
        comp = connected_components(pairs)
        drop = scoped_cache(
            comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
        )
        n_neardup = n_exact - drop.count()  # drop ⊆ exact ids, disjoint keeps
        neardup_free = scoped_cache(exact.join(drop, "doc_id", "left_anti"))

        # 4. decontamination: probe = benchmark stand-in (doc_id % 97 == 0
        #    over the ORIGINAL corpus — the benchmark is external, curation
        #    must not thin it); drop survivors above the containment cut.
        #    The probe is deliberately UNHINTED (the drop-list policy
        #    above): a real benchmark probe set is fixed-size and tiny,
        #    but THIS stand-in is corpus-proportional (all distinct
        #    shingles of ~1/97 of the corpus) — an unconditional
        #    F.broadcast would force a corpus-scaled broadcast at 100 TB.
        #    The distinct is agg-derived, so AQE plans the join from its
        #    TRUE size at the stage boundary: broadcast while genuinely
        #    small, shuffled join beyond.
        #    Built from the expr helpers directly — NOT via
        #    shingle_sets_from — because the probe only needs DISTINCT
        #    SHINGLES: routing through the (doc_id, shingle)-level
        #    distinct would pay a second exchange+aggregate whose
        #    per-doc dedup the next .distinct() immediately discards.
        probe = (
            flagged.where(F.col("doc_id") % 97 == 0)
            .select(tokens_expr().alias("toks"))
            .select(F.explode(shingles_expr(F.col("toks"))).alias("shingle"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        contaminated = scoped_cache(
            contamination(shingle_sets_from(neardup_free), probe)
            .where(F.col("contamination") > CONTAMINATION_MAX)
            .select("doc_id")
        )
        n_contaminated = contaminated.count()  # contaminated ⊆ survivor ids
        # contaminated is contamination-rate-proportional — unhinted for
        # the same reason as the drop list above
        curated = neardup_free.join(contaminated, "doc_id", "left_anti")
        curated.write.mode("overwrite").parquet(out_dir)

        # count what was durably written, not the plan (footer metadata scan)
        n_curated = spark.read.parquet(out_dir).count()
        if n_curated != n_neardup - n_contaminated:
            raise RuntimeError(
                f"curate: durable output has {n_curated} rows but the plan "
                f"produced {n_neardup - n_contaminated} — the written corpus "
                "does not match the computed one (commit failure or "
                "concurrent writer?)"
            )
        return {
            "n_total": n_total,
            "n_after_quality": n_gated,
            "n_after_exact_dedup": n_exact,
            "n_after_neardup": n_neardup,
            "n_curated": n_curated,
            "dropped_quality": n_total - n_gated,
            "dropped_exact": n_gated - n_exact,
            "dropped_neardup": n_exact - n_neardup,
            "dropped_contaminated": n_contaminated,
        }

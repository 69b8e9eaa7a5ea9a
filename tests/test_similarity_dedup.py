"""Recall / consistency tests for the approximate operators — the checks
a value-hash oracle cannot express (SURVEY.md §5: approximate paths are
verified by recall against the exact answer).
"""

from __future__ import annotations

import pandas as pd

from mapreduce_framework_simple_spark.operators.dedup import (
    q36_ngram_jaccard,
    q38_minhash_lsh_pairs,
    q39_simhash,
)
from mapreduce_framework_simple_spark.operators.similarity import (
    TOP_K,
    q40_cosine_topk,
    q41_ann_ivf,
)


def test_nearest_cells_kernel_matches_expression_pipeline(spark, sf_dir):
    """The vectorized _nearest_cells kernel (mapInPandas, HALF_UP micro
    rounding, ties to smaller cell) must emit EXACTLY the cells of the
    JVM-expression formulation it replaced (broadcast join + cosine_expr
    + 6-dp round + row_number window) — for argmax (top_n=1) AND the
    top-N_PROBE probe depth, on both centroid sources."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators import similarity as S
    from mapreduce_framework_simple_spark.sources.io import load_table

    em = load_table(spark, "embeddings", sf_dir)

    def expression_cells(cents, top_n):
        scored = em.join(F.broadcast(cents)).select(
            "vec_id", "cell_id",
            F.round(S.cosine_expr("embedding", "c_emb"), 6).alias("s"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cell_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= top_n)
            .select("vec_id", "cell_id")
        )

    for cents in (S._stride(em, S.N_CELLS_STRIDE),
                  S.kmeans_centroid_frame(spark, sf_dir)):
        for top_n in (1, S.N_PROBE):
            got = sorted(
                map(tuple, S._nearest_cells(em, "vec_id", "embedding",
                                            cents, top_n)
                    .select("vec_id", "cell_id").collect())
            )
            want = sorted(map(tuple, expression_cells(cents, top_n).collect()))
            assert got == want, (
                f"kernel diverged from expression pipeline "
                f"(top_n={top_n}, K={cents.count()})"
            )


def test_ivf_recall_against_exact(spark, sf_dir):
    """IVF ANN must find ≥60% of the true top-5 neighbors (4 of 16 cells
    probed — recall is bounded by probe coverage, not by bugs)."""
    exact = q40_cosine_topk(spark, sf_dir).toPandas()
    approx = q41_ann_ivf(spark, sf_dir).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall@{TOP_K} = {recall:.2f}"
    # every query answered
    assert set(approx.query_id) == set(exact.query_id)


def _jobs_before_and_total(spark, group, build):
    """(jobs before the action, jobs in total) of ``build()`` followed by
    a ``toPandas()`` of its frame, counted by job group."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sc.setJobGroup(group, group)
    try:
        df = build()
        bus.waitUntilEmpty()
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        df.toPandas()
        bus.waitUntilEmpty()
        total = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return before, total


def test_ivf_query_job_counts(spark, sf_dir):
    """q41 and q129 read the corpus once and pass the frame to every
    layer: q41 runs its one read and its one centroid collect before the
    action (≤ 2 / ≤ 5 jobs in total), q129 its one read and the routed
    core's gate collects (≤ 6 / ≤ 9). Each extra read or collect costs
    a ~0.1-0.2 CPU-s job whatever its data, so a regression shows here
    first."""
    from mapreduce_framework_simple_spark.operators.similarity import (
        q129_two_level_probe,
    )

    for name, fn, bound in (
        ("q41", q41_ann_ivf, (2, 5)),
        ("q129", q129_two_level_probe, (6, 9)),
    ):
        got = _jobs_before_and_total(
            spark, f"{name}-job-count", lambda: fn(spark, sf_dir))
        assert got[0] <= bound[0] and got[1] <= bound[1], (
            f"{name} ran {got[0]} jobs before its action, {got[1]} in total")


def test_ivf_entry_points_read_embeddings_once(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """Every IVF entry point loads ``embeddings`` exactly once and
    passes that frame down to the stride layers, the query subset and
    the corpus side; each extra load_table pays one schema-inference
    job."""
    import mapreduce_framework_simple_spark.operators.similarity as S

    reads = []
    real = S.load_table

    def spy(spark_, name, sf_dir_):
        reads.append(name)
        return real(spark_, name, sf_dir_)

    monkeypatch.setattr(S, "load_table", spy)
    path = str(tmp_path / "ivf_one_read_idx")
    em = real(spark, "embeddings", sf_dir)
    entry_points = {
        "q41": lambda: S.q41_ann_ivf(spark, sf_dir),
        "q129": lambda: S.q129_two_level_probe(spark, sf_dir),
        "ann_ivf_topk (routed)": lambda: S.ann_ivf_topk(
            spark, sf_dir, meta_centroids=S._stride(em, S.META_STRIDE)),
        "write_ivf_index": lambda: S.write_ivf_index(spark, sf_dir, path),
        "ivf_probe_bucketed": lambda: S.ivf_probe_bucketed(spark, sf_dir, path),
        "ivf_knn_confusion": lambda: S.ivf_knn_confusion(spark, sf_dir, path),
    }
    for name, call in entry_points.items():
        reads.clear()
        call()
        assert reads == ["embeddings"], f"{name} loaded {reads}"


def test_two_level_probes_full_route_equals_flat(spark, sf_dir):
    """The routed branch of ivf_cells with route_n ≥ the meta-cell count
    routes every query to every meta cell — the candidate pool is then
    ALL K fine cells, so the output must equal the flat _ivf_probes
    row-for-row, vectors included (same sequential-dim scoring, same
    HALF_UP micro-units, same smaller-cell tie rule). This pins the
    router's kernel parity; the recall test below covers the approximate
    small-route_n regime."""
    from mapreduce_framework_simple_spark.operators import similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    cents = S._stride(em, S.N_CELLS_STRIDE)
    meta = S.kmeans_centroid_frame(spark, sf_dir, k=5)
    q = S._stride(em, S.QUERY_STRIDE, "query_id", "q_emb")

    def rows(df):
        return sorted((r.query_id, r.cell_id, tuple(r.q_emb)) for r in df.collect())

    flat = rows(S._ivf_probes(em, cents))
    routed = rows(S.ivf_cells(q, "query_id", "q_emb", cents, meta,
                              top_n=S.N_PROBE, route_n=5))
    assert len(flat) > 0
    assert routed == flat


def test_two_level_assignments_full_route_equals_flat(spark, sf_dir):
    """The index-build side: with route_n = meta-cell count every fine
    cell is reachable, so the routed assignment must reproduce the flat
    ivf_assignments (argmax cell per vector) exactly."""
    from mapreduce_framework_simple_spark.operators import similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    cents = S._stride(em, S.N_CELLS_STRIDE)
    meta = S.kmeans_centroid_frame(spark, sf_dir, k=5)
    flat = sorted(map(tuple, S.ivf_assignments(em, cents)
                      .select("vec_id", "cell_id").collect()))
    routed = sorted(map(tuple, S.ivf_cells(
        em, "vec_id", "embedding", cents, meta, top_n=1, route_n=5
    ).select("vec_id", "cell_id").collect()))
    assert len(flat) > 0
    assert routed == flat


def test_two_level_assignments_router_agreement(spark, sf_dir):
    """At the default route_n the routed argmax must agree with the flat
    assignment for most vectors (disagreement only where the true cell's
    meta route fell outside the vector's routed meta cells), and assign
    every vector exactly once."""
    from mapreduce_framework_simple_spark.operators import similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    cents = S._stride(em, S.N_CELLS_STRIDE)
    meta = S.kmeans_centroid_frame(spark, sf_dir, k=5)
    flat = S.ivf_assignments(em, cents).toPandas()
    routed = S.ivf_assignments(em, cents, meta).toPandas()
    assert len(routed) == len(flat)
    assert routed.vec_id.is_unique
    merged = flat.merge(routed, on="vec_id", suffixes=("_f", "_r"))
    agree = (merged.cell_id_f == merged.cell_id_r).mean()
    assert agree >= 0.8, f"routed assignment agreement = {agree:.2f}"


def test_two_level_ann_recall_against_exact(spark, sf_dir):
    """End-to-end routed ANN (routed assignment + routed probes + the
    shared exact-cosine rank tail) must hit the same recall bound as
    flat q41 (measured 0.67 = flat's 0.67 on the stride layers at
    sf0.001 — full-route regime there, so the paths coincide)."""
    from mapreduce_framework_simple_spark.operators import similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    exact = q40_cosine_topk(spark, sf_dir).toPandas()
    routed = S.ann_ivf_topk(
        spark, sf_dir, meta_centroids=S._stride(em, S.META_STRIDE)
    ).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    r = set(zip(routed.query_id, routed.neighbor_id))
    recall = len(e & r) / len(e)
    assert recall >= 0.6, f"routed ANN recall@{TOP_K} = {recall:.2f}"
    assert set(routed.query_id) == set(exact.query_id)


def test_two_level_probes_skips_empty_metas(spark):
    """A meta cell no fine centroid routed to is EMPTY; a query whose
    route_n picks land only on empty metas would silently get zero
    candidates (a silently dropped vector on the assignment side).
    Queries must therefore route against non-empty metas only: here the
    query's nearest meta (B) is empty, and it must still come back with
    both fine cells via meta A."""
    from mapreduce_framework_simple_spark.operators import similarity as S

    fine = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [1.0, -0.1])], "cell_id long, c_emb array<double>"
    )
    meta = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])], "cell_id long, c_emb array<double>"
    )
    q = spark.createDataFrame(
        [(7, [0.1, 1.0])], "query_id long, q_emb array<double>"
    )
    out = S.ivf_cells(
        q, "query_id", "q_emb", fine, meta, top_n=S.N_PROBE, route_n=1,
    ).toPandas()
    assert sorted(out.cell_id) == [1, 2], (
        f"query dropped or mis-routed: {out.to_dict('records')}"
    )


def test_two_level_probes_router_recall(spark, sf_dir):
    """At route_n=META_ROUTE_PROBES the router only scores fine cells
    reachable through the routed meta cells — probe selection must
    still recover most of the flat probe set (recall governed by meta
    coverage, not bugs), and emit ≤ N_PROBE cells for every query."""
    from mapreduce_framework_simple_spark.operators import similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    cents = S._stride(em, S.N_CELLS_STRIDE)
    meta = S.kmeans_centroid_frame(spark, sf_dir, k=5)
    flat = S._ivf_probes(em, cents).toPandas()
    routed = S._ivf_probes(em, cents, meta).toPandas()
    f = set(zip(flat.query_id, flat.cell_id))
    r = set(zip(routed.query_id, routed.cell_id))
    recall = len(f & r) / len(f)
    assert recall >= 0.6, f"router probe recall = {recall:.2f}"
    assert set(routed.query_id) == set(flat.query_id)
    assert routed.groupby("query_id").size().max() <= S.N_PROBE


def test_lsh_finds_high_jaccard_pairs(spark, sf_dir):
    """Every exact pair with Jaccard ≥ 0.8 must appear among the LSH
    candidates (P(miss) = (1-j⁴)⁴ ≤ 2.5% per pair at j=0.8; the fixture's
    near-dup pairs sit at j≈0.9-1.0 where P(miss) < 0.2%)."""
    exact = q36_ngram_jaccard(spark, sf_dir).toPandas()
    high = exact[exact.jaccard >= 0.8]
    cands = q38_minhash_lsh_pairs(spark, sf_dir).toPandas()
    cand_set = set(zip(cands.doc_a, cands.doc_b))
    missed = [
        (a, b) for a, b in zip(high.doc_a, high.doc_b) if (a, b) not in cand_set
    ]
    assert len(high) > 0, "fixture should contain near-dup pairs"
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_simhash_close_for_near_dups(spark, sf_dir):
    """Near-dup docs (Jaccard ≥ 0.9 ⇒ near-identical shingle sets) should
    get near-identical simhash (frequency weighting can still flip a few
    low-margin bits)."""
    exact = q36_ngram_jaccard(spark, sf_dir).toPandas()
    dups = exact[exact.jaccard >= 0.9]
    assert len(dups) > 0
    sh = q39_simhash(spark, sf_dir).toPandas().set_index("doc_id")["simhash"]
    hd = [
        bin(int(sh[a]) ^ int(sh[b])).count("1") for a, b in zip(dups.doc_a, dups.doc_b)
    ]
    assert pd.Series(hd).median() <= 4, f"hamming distances too large: {hd}"


def test_topk_is_k_rows_per_query(spark, sf_dir):
    df = q40_cosine_topk(spark, sf_dir).toPandas()
    per_q = df.groupby("query_id").size()
    assert (per_q == TOP_K).all()
    assert (df.groupby("query_id")["rnk"].max() == TOP_K).all()
    # no self-matches
    assert (df.query_id != df.neighbor_id).all()


def test_prefix_jaccard_equals_naive(spark, sf_dir):
    """PPJoin-style prefix filtering must return exactly the naive
    all-pairs Jaccard answer (its soundness proof, empirically)."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        ngram_jaccard_prefix,
    )

    naive = q36_ngram_jaccard(spark, sf_dir).toPandas()
    pref = ngram_jaccard_prefix(spark, sf_dir).toPandas()
    key = ["doc_a", "doc_b"]
    n = naive.sort_values(key).reset_index(drop=True)
    p = pref.sort_values(key).reset_index(drop=True)
    assert n[key].equals(p[key])
    assert (abs(n.jaccard - p.jaccard) < 1e-9).all()


def test_minhash_estimates_jaccard(spark, sf_dir):
    """Statistical soundness of the universal-hash MinHash family: the
    fraction of agreeing signature components estimates Jaccard
    (E[agree] = J; with 16 components, sd ≈ sqrt(J(1-J)/16) ≤ 0.125 —
    assert mean absolute error over the high-J pairs stays well inside
    that)."""
    import pandas as pd

    from mapreduce_framework_simple_spark.operators.dedup import (
        q37_minhash_signatures,
    )

    truth = q36_ngram_jaccard(spark, sf_dir).toPandas()
    sigs = q37_minhash_signatures(spark, sf_dir).toPandas()
    wide = sigs.pivot(index="doc_id", columns="k", values="sig")
    errs = []
    for _, r in truth.iterrows():
        agree = (wide.loc[r.doc_a] == wide.loc[r.doc_b]).mean()
        errs.append(abs(agree - r.jaccard))
    assert len(errs) > 0
    mae = pd.Series(errs).mean()
    assert mae <= 0.15, f"minhash estimate off: MAE={mae:.3f}"


def test_query_broadcast_bound_enforced(spark, sf_dir, monkeypatch):
    """q40's size gate must REFUSE a query set past the broadcast bound
    instead of collecting it onto the driver for the scan kernel; the
    bound is the documented contract."""
    import pytest as _pytest

    from mapreduce_framework_simple_spark.operators import similarity as S

    monkeypatch.setattr(S, "MAX_BROADCAST_QUERIES", 10)
    with _pytest.raises(ValueError, match="query set"):
        S.q40_cosine_topk(spark, sf_dir)


CAP_FIRE_N_BOILER = 30


def _plant_cap_fire_corpus(tmp_path, name: str):
    """THE planted cap-fire corpus, shared by the q38 and q112 cap-fire
    oracle tests: CAP_FIRE_N_BOILER exact boilerplate copies (one LSH
    bucket oversized under a cap of 10) plus two near-dup twin pairs in
    small, uncapped buckets. Returns (sf_dir str, duckdb connection with
    the documents view). One definition — a change to the planted shape
    cannot silently diverge the two tests."""
    import duckdb
    import pandas as pd

    boiler_text = ("subscribe to our newsletter terms apply all rights "
                   "reserved contact us privacy policy cookie settings")
    rows = [
        {"doc_id": i, "text": boiler_text, "lang": "en", "source": "web",
         "n_chars": len(boiler_text)}
        for i in range(CAP_FIRE_N_BOILER)
    ] + [
        {"doc_id": 100 + i,
         "text": f"twin document shared words alpha beta gamma {i % 2}",
         "lang": "en", "source": "web", "n_chars": 40}
        for i in range(4)  # two near-dup pairs in small (uncapped) buckets
    ]
    sf = tmp_path / name
    sf.mkdir()
    pd.DataFrame(rows).to_parquet(sf / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    return str(sf), con


def _cap10_oracle(query_name: str) -> str:
    """The declared oracle with its hot-bucket cap rewritten to 10 — the
    one rewrite convention both cap-fire tests must share."""
    import __spark_entry__ as entrymod
    from mapreduce_framework_simple_spark.operators import dedup as D

    oracle = entrymod.oracle_sql()[query_name].replace(
        f"count(*) <= {D.LSH_MAX_BUCKET}", "count(*) <= 10"
    )
    assert oracle != entrymod.oracle_sql()[query_name]
    return oracle


def test_q38_oracle_matches_when_cap_fires(spark, tmp_path, monkeypatch):
    """The DuckDB oracle mirrors the Spark-side hot-bucket cap, so query
    and oracle stay hash-equal on the very corpora the guard targets
    (boilerplate buckets above LSH_MAX_BUCKET) — the core contract must
    hold when the cap FIRES, not only when it's dormant."""
    from mapreduce_framework_simple_spark.operators import dedup as D
    from tests.oracle_harness import compare_frames

    sf, con = _plant_cap_fire_corpus(tmp_path, "planted")
    ddf = con.execute(_cap10_oracle("q38_minhash_lsh_pairs")).fetchdf()

    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 10)
    bands = D.scoped_cache(
        D.band_signatures_from(D.load_table(spark, "documents", sf)))
    sdf = (
        D.lsh_candidate_pairs(D.cap_hot_buckets(bands, "q38")[0])
        .toPandas()
        .astype({"doc_a": "int64", "doc_b": "int64"})
    )
    assert compare_frames(sdf, ddf) == []
    # the cap actually fired: boilerplate pairs absent, twin pairs present
    assert len(sdf) > 0 and not (sdf["doc_a"] < CAP_FIRE_N_BOILER).any()


def test_lsh_quality_full_referee_matches_oracle(spark, sf_dir):
    """The full-corpus (quadratic) P/R eval stays available as q112's
    test-only referee, and must still hash-match its own DuckDB oracle —
    the declared q112 runs the sample-priced slice instead."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        _DUCK_LSH_QUALITY_FULL,
        lsh_quality_full,
    )
    from tests.oracle_harness import compare_frames, duck_connection

    sdf = lsh_quality_full(spark, sf_dir).toPandas()
    ddf = duck_connection(sf_dir).execute(_DUCK_LSH_QUALITY_FULL).fetchdf()
    assert compare_frames(sdf, ddf) == []
    assert int(sdf["n_truth"].iloc[0]) > 0


def test_q120_and_bucketed_probe_gate_nothing(spark, sf_dir, tmp_path, monkeypatch):
    """q120 runs one kernel at every size and the bucketed IVF probe one
    pruning mechanism, so neither takes a size gate of its own: q120
    calls no ``size_gate`` at all (its plan is the cogrouped block
    self-join), and the probe's only gate is the centroid refusal bound
    inside ``_gated_centroids``."""
    import sys

    import mapreduce_framework_simple_spark.operators.similarity as S
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan

    path = str(tmp_path / "ivf_gate_idx")
    S.write_ivf_index(spark, sf_dir, path)
    calls = []
    real = S.size_gate

    def spy(df, bound, **kw):
        calls.append(sys._getframe(1).f_code.co_name)
        return real(df, bound, **kw)

    monkeypatch.setattr(S, "size_gate", spy)
    q120 = S.q120_knn_accuracy(spark, sf_dir)
    assert calls == []
    assert "FlatMapCoGroupsInPandas" in formatted_plan(q120)
    S.ivf_probe_bucketed(spark, sf_dir, path)
    assert calls and set(calls) == {"_gated_centroids"}, calls


def test_q42_plan_is_distributed_cogroup(spark, sf_dir):
    """q42's physical plan must be the cogrouped block self-join — no
    driver-side materialization anywhere (the plan shows the corpus only
    flowing through scans, joins, and FlatMapCoGroupsInPandas)."""
    from mapreduce_framework_simple_spark.operators.similarity import (
        q42_embed_neardup,
    )
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan

    plan = formatted_plan(q42_embed_neardup(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan


def test_scrub_pii_redacts_planted_pii(spark):
    """PII scrub on planted emails/phones: spans redacted, counts right,
    clean rows untouched."""
    from mapreduce_framework_simple_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 555-123-4567 today"),
            (2, "no personal data here at all"),
            (3, "a@b.io and c@d.org wrote 212 555 0199"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["n_pii"] == 2 and out[1]["text"].count("[PII]") == 2
    assert "example" not in out[1]["text"] and "4567" not in out[1]["text"]
    assert out[2]["n_pii"] == 0 and out[2]["text"] == "no personal data here at all"
    assert out[3]["n_pii"] == 3 and out[3]["text"].count("[PII]") == 3


def test_scrub_pii_email_stops_at_sentence_period(spark):
    """A no-space sentence period after an email must not drag the
    following prose into the redaction: the mixed-case token fails the
    uniformly-cased TLD rule and the match backtracks to the email."""
    from mapreduce_framework_simple_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "contact a@b.com.Thanks for reading"),
            (2, "shout to USER@EXAMPLE.COM.Goodbye now"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["text"] == "contact [PII].Thanks for reading"
    assert out[1]["n_pii"] == 1
    assert out[2]["text"] == "shout to [PII].Goodbye now"


def test_scrub_pii_overlap_counts_spans_not_patterns(spark):
    """A phone-shaped span inside an email local-part must count once:
    n_pii equals redacted spans, not pattern hits."""
    from mapreduce_framework_simple_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "contact 555-123-4567@mail.com")], "id long, text string"
    )
    row = scrub_pii(df).collect()[0]
    assert row["text"].count("[PII]") == 1
    assert row["n_pii"] == 1


def test_ivf_bucketed_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The bucketed IVF probe must (a) return exactly q41's answer and
    (b) plan the index read with partition filters on cell_id — the
    physical layout doing the work, not a post-scan filter."""
    from mapreduce_framework_simple_spark.operators.similarity import (
        ivf_probe_bucketed,
        q41_ann_ivf,
        write_ivf_index,
    )
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan

    path = str(tmp_path / "ivf_index")
    write_ivf_index(spark, sf_dir, path)
    got = ivf_probe_bucketed(spark, sf_dir, path)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and "cell_id" in plan.split("PartitionFilters", 1)[1][:200]
    g = got.toPandas().sort_values(["query_id", "rnk"]).reset_index(drop=True)
    e = q41_ann_ivf(spark, sf_dir).toPandas().sort_values(["query_id", "rnk"]).reset_index(drop=True)
    assert g[["query_id", "neighbor_id", "rnk"]].equals(e[["query_id", "neighbor_id", "rnk"]])


def test_ivf_probe_prunes_with_semi_join_dpp(spark, sf_dir, tmp_path):
    """The bucketed probe prunes the index scan with a broadcast LEFT
    SEMI join on cell_id, and dynamic partition pruning skips unprobed
    directories at runtime: no driver IN-list of probed cells (a
    10⁵-literal predicate bloats the plan and per-file evaluation —
    docs/SCALE.md). Rows equal q41's."""
    import mapreduce_framework_simple_spark.operators.similarity as S
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan

    path = str(tmp_path / "ivf_semi_idx")
    S.write_ivf_index(spark, sf_dir, path)
    cols = ["query_id", "neighbor_id", "rnk"]

    got = S.ivf_probe_bucketed(spark, sf_dir, path)
    plan = formatted_plan(got)
    assert "LeftSemi" in plan  # distributed pruning join on cell_id
    # no IN-list literal (Catalyst renders large lists as INSET)
    pf = plan.split("PartitionFilters", 1)[1][:300]
    assert "INSET" not in pf and " IN (" not in pf
    # DPP: the bucketed scan's partition filter is the runtime subquery
    assert "dynamicpruning" in plan.lower()
    b = got.toPandas().sort_values(cols).reset_index(drop=True)
    e = S.q41_ann_ivf(spark, sf_dir).toPandas().sort_values(cols).reset_index(drop=True)
    assert b[cols].equals(e[cols])

    # DPP is a PERFORMANCE layer, never a correctness dependency: with
    # the optimizer rule disabled the semi-join alone must still produce
    # the identical answer
    dpp_key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    old = spark.conf.get(dpp_key)
    spark.conf.set(dpp_key, "false")
    try:
        nodpp = S.ivf_probe_bucketed(spark, sf_dir, path)
        assert "dynamicpruning" not in formatted_plan(nodpp).lower()
        nd = nodpp.toPandas().sort_values(cols).reset_index(drop=True)
        assert nd[cols].equals(b[cols])
    finally:
        spark.conf.set(dpp_key, old)


def test_incremental_lsh_candidates_equal_batch_recompute(spark, sf_dir, tmp_path):
    """Splitting the corpus into indexed-old + new-batch and probing the
    persisted index must find exactly the cross (old, new) candidate
    pairs that the monolithic q38 run finds."""
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
        q38_minhash_lsh_pairs,
        write_lsh_index,
    )
    from mapreduce_framework_simple_spark.sources.io import load_table

    docs = load_table(spark, "documents", sf_dir)
    cut = 400
    old = docs.where(F.col("doc_id") < cut)
    new = docs.where(F.col("doc_id") >= cut)
    idx_path = str(tmp_path / "lsh_index")
    write_lsh_index(old, idx_path)

    got = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in incremental_lsh_candidates(spark, new, idx_path).collect()
    }
    # monolithic reference: q38 pairs (doc_a < doc_b) with one side each
    # of the cut — orient as (new, old)
    want = set()
    for r in q38_minhash_lsh_pairs(spark, sf_dir).collect():
        a, b = r["doc_a"], r["doc_b"]
        if a < cut <= b:
            want.add((b, a))
        elif b < cut <= a:
            want.add((a, b))
    assert got == want and len(want) > 0


def test_incremental_bands_gate_over_bound_equal(spark, sf_dir, tmp_path,
                                                 monkeypatch):
    """Both sides of the batch-broadcast gate give the same pairs: at
    ``INCREMENTAL_BROADCAST_BANDS = 0`` every batch-side join runs
    unhinted (no hint left in the analyzed plan) and the
    (new_doc_id, corpus_doc_id) pairs equal those at the default bound."""
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators import dedup as D
    from mapreduce_framework_simple_spark.sources.io import load_table

    docs = load_table(spark, "documents", sf_dir)
    idx_path = str(tmp_path / "lsh_index")
    D.write_lsh_index(docs.where(F.col("doc_id") < 400), idx_path)
    new = docs.where(F.col("doc_id") >= 400)

    def run():
        df = D.incremental_lsh_candidates(spark, new, idx_path)
        plan = df._jdf.queryExecution().analyzed().toString()
        pairs = {(r["new_doc_id"], r["corpus_doc_id"]) for r in df.collect()}
        return "ResolvedHint" in plan, pairs

    hinted, under = run()
    monkeypatch.setattr(D, "INCREMENTAL_BROADCAST_BANDS", 0)
    unhinted, over = run()
    assert hinted and not unhinted
    assert over == under and len(under) > 0


def test_lsh_bucket_cap_bounds_boilerplate(spark, caplog, monkeypatch):
    """A planted boilerplate bucket (many docs sharing one text, i.e. one
    band signature per band) must be dropped by the fan-out cap — pair
    output stays bounded instead of going quadratic — and the drop must
    be logged, never silent. Distinct docs below the cap are unaffected."""
    import logging

    from mapreduce_framework_simple_spark.operators import dedup as D

    boiler = [(i, "subscribe to our newsletter terms apply all rights reserved "
                  "contact us privacy policy cookie settings") for i in range(60)]
    distinct = [(1000 + i,
                 f"unique document number {i} about topic {i * 7} with words "
                 f"{'alpha beta gamma delta epsilon'.split()[i % 5]} {i * i}")
                for i in range(5)]
    docs = spark.createDataFrame(boiler + distinct, "doc_id long, text string")
    bands = D.scoped_cache(D.band_signatures_from(docs))

    uncapped = D.lsh_candidate_pairs(bands).count()
    assert uncapped >= 60 * 59 // 2  # the quadratic blow-up the cap exists for

    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 10)
    with caplog.at_level(logging.WARNING,
                         logger="mapreduce_framework_simple_spark.operators.dedup"):
        kept, _ = D.cap_hot_buckets(bands, "boilerplate")
        capped = D.lsh_candidate_pairs(kept).count()
    assert capped == 0  # bounded: the boilerplate bucket's pairs are gone
    assert any("dropped" in r.message and "bucket" in r.message
               for r in caplog.records)  # no silent caps


def test_incremental_probe_caps_index_fanout(spark, tmp_path, monkeypatch):
    """The persisted index stores per-bucket populations; a probe against
    a boilerplate-heavy corpus bucket must skip it map-side (bounded
    candidates) while normal buckets still match."""
    from mapreduce_framework_simple_spark.operators import dedup as D
    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
        write_lsh_index,
    )

    boiler_text = ("subscribe to our newsletter terms apply all rights "
                   "reserved contact us privacy policy cookie settings")
    normal_text = "a perfectly ordinary document about spark partitioning"
    corpus = spark.createDataFrame(
        [(i, boiler_text) for i in range(50)] + [(900, normal_text)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "lsh_index_cap")
    write_lsh_index(corpus, idx)
    assert "bucket_n" in spark.read.parquet(idx).columns

    batch = spark.createDataFrame(
        [(2000, boiler_text), (2001, normal_text)], "doc_id long, text string"
    )
    # under the default cap the 51-doc bucket is kept
    uncapped = incremental_lsh_candidates(spark, batch, idx)
    assert uncapped.count() == 51  # 50 boilerplate hits + the normal one

    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 10)
    capped = incremental_lsh_candidates(spark, batch, idx)
    rows = {(r["new_doc_id"], r["corpus_doc_id"]) for r in capped.collect()}
    assert rows == {(2001, 900)}  # boilerplate fan-out suppressed, exact match kept


def test_incremental_probe_union_bucket_cap(spark, tmp_path, monkeypatch):
    """The probe's fan-out guard uses UNION-bucket semantics: a bucket
    whose corpus+batch population exceeds the cap is dropped even when
    EACH side alone is under it — per-side capping would emit the
    quadratic cross pairs monolithic q38-on-the-union drops."""
    from mapreduce_framework_simple_spark.operators import dedup as D
    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
        write_lsh_index,
    )

    boiler = ("subscribe to our newsletter terms apply all rights "
              "reserved contact us privacy policy cookie settings")
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(30)], "doc_id long, text string"
    )
    idx = str(tmp_path / "union_cap_idx")
    write_lsh_index(corpus, idx)
    batch = spark.createDataFrame(
        [(1000 + i, boiler) for i in range(30)], "doc_id long, text string"
    )
    # each side is 30 (< 40) but the union bucket is 60 (> 40): dropped,
    # exactly like q38 on the union corpus would drop it
    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 40)
    capped = incremental_lsh_candidates(spark, batch, idx)
    assert capped.count() == 0
    # union 60 <= 100: kept — all 900 cross pairs
    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 100)
    kept = incremental_lsh_candidates(spark, batch, idx)
    assert kept.count() == 900


def test_incremental_probe_no_self_pairs_on_reingest(spark, tmp_path):
    """A batch doc whose id ALREADY EXISTS in the index (retry after a
    partial failure) matches its own index rows on every band — the
    probe must not emit the degenerate (X, X) pair: lsh_candidate_pairs
    (doc_a < doc_b) can never produce one, so it would break the
    q38-on-the-union equivalence and make survivor consumers drop the
    re-ingested doc as a duplicate of itself."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
        write_lsh_index,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, text), (2, "completely different content about something else "
                        "entirely with many words")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "reingest_idx")
    write_lsh_index(corpus, idx)
    # re-ingest doc 1 verbatim plus a genuinely new near-dup of it
    batch = spark.createDataFrame(
        [(1, text), (99, text)], "doc_id long, text string"
    )
    got = incremental_lsh_candidates(spark, batch, idx).toPandas()
    pairs = set(zip(got.new_doc_id, got.corpus_doc_id))
    assert (1, 1) not in pairs, "degenerate self-pair emitted on re-ingest"
    assert (99, 1) in pairs  # the real cross pair still surfaces
    # the re-ingested doc still pairs with its indexed self-copy? No —
    # (1, 1) is identity, excluded; nothing else shares its signatures
    assert all(a != b for a, b in pairs)


def test_incremental_probe_raises_on_missing_index(spark, tmp_path):
    """A typo'd/nonexistent index path must FAIL the probe, not silently
    admit the whole batch as dup-free (the empty-corpus case — a real
    index directory with no part files — still returns no candidates)."""
    import pytest
    from pyspark.errors import AnalysisException

    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
    )

    batch = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(AnalysisException):
        incremental_lsh_candidates(
            spark, batch, str(tmp_path / "no_such_index")
        ).count()


def test_lsh_guard_zero_drop_fast_path_plan(spark, sf_dir):
    """When no bucket exceeds the cap (the common case — all shipped
    testdata), the guard must return the input UNCHANGED: no anti-join
    in the candidate plan, just the banded self-join. Guards against
    reintroducing an unconditional anti-join shape."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        band_signatures_from,
        cap_hot_buckets,
        load_table,
        lsh_candidate_pairs,
        scoped_cache,
    )
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan

    bands = scoped_cache(
        band_signatures_from(load_table(spark, "documents", sf_dir)))
    kept, drop = cap_hot_buckets(bands, "zero-drop")
    assert kept is bands and drop.count() == 0
    plan = formatted_plan(lsh_candidate_pairs(kept))
    assert "LeftAnti" not in plan


def test_incremental_probe_rejects_index_without_bucket_n(spark, tmp_path):
    """An index without the stored bucket_n column cannot be capped on
    its union bucket sizes, so the probe refuses it with a ValueError
    naming the writer that stores them, instead of probing uncapped."""
    import pytest

    from mapreduce_framework_simple_spark.operators.dedup import (
        incremental_lsh_candidates,
        write_lsh_index,
    )

    corpus = spark.createDataFrame(
        [(i, "a perfectly ordinary document about spark partitioning")
         for i in range(3)], "doc_id long, text string",
    )
    staged = str(tmp_path / "with_bucket_n")
    write_lsh_index(corpus, staged)
    bare = str(tmp_path / "bare_idx")
    spark.read.parquet(staged).drop("bucket_n").write.partitionBy(
        "band"
    ).parquet(bare)
    with pytest.raises(ValueError, match="write_lsh_index"):
        incremental_lsh_candidates(spark, corpus, bare)


def test_eval_sample_is_fixed_size_and_deterministic(spark, sf_dir):
    """q112's eval sample keeps exactly EVAL_SAMPLE_N docs (min with the
    corpus) by md5-rank, with membership a pure function of doc_id — the
    property that makes the declared eval's quadratic truth join O(1) in
    corpus size."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        EVAL_SAMPLE_N,
        eval_sample_docs,
    )
    from mapreduce_framework_simple_spark.sources.io import load_table

    n_corpus = load_table(spark, "documents", sf_dir).count()
    a = {r["doc_id"] for r in eval_sample_docs(spark, sf_dir, 10).select("doc_id").collect()}
    b = {r["doc_id"] for r in eval_sample_docs(spark, sf_dir, 10).select("doc_id").collect()}
    assert a == b and len(a) == 10  # deterministic, exactly n
    full = eval_sample_docs(spark, sf_dir, EVAL_SAMPLE_N).count()
    assert full == min(EVAL_SAMPLE_N, n_corpus)
    # smaller n is a prefix of larger n (rank-based, so samples nest)
    assert a <= {
        r["doc_id"]
        for r in eval_sample_docs(spark, sf_dir, 50).select("doc_id").collect()
    }


def test_capped_corpus_bands_memoized_across_queries(spark, sf_dir):
    """The capped band frame is built ONCE per (session, sf_dir): a
    second call — even after the per-query release_caches() boundary —
    returns the identical memoized frame (no signature recompute, no
    repeat of the guard's eager drop-count action), and q38-composing
    queries therefore share it. clear_memo() forgets it."""
    from mapreduce_framework_simple_spark import ephemeral
    from mapreduce_framework_simple_spark.operators.dedup import (
        capped_corpus_bands,
        q38_minhash_lsh_pairs,
    )

    ephemeral.clear_memo()
    first = capped_corpus_bands(spark, sf_dir)
    ephemeral.release_caches()  # the queries() per-query boundary
    second = capped_corpus_bands(spark, sf_dir)
    assert second is first  # memo hit, not a rebuild

    # the memoized plan stays cached across the boundary (re-armed even
    # after a clearCache) and q38 results are unchanged
    spark.catalog.clearCache()
    n1 = q38_minhash_lsh_pairs(spark, sf_dir).count()
    ephemeral.release_caches()
    n2 = q38_minhash_lsh_pairs(spark, sf_dir).count()
    assert n1 == n2

    assert ephemeral.clear_memo() > 0
    third = capped_corpus_bands(spark, sf_dir)
    assert third is not first  # rebuilt after an explicit memo clear
    ephemeral.clear_memo()


def test_memo_rebuilds_after_dataset_rewrite(spark, tmp_path):
    """A consumer that REWRITES the corpus at the same path mid-session
    gets a fresh build reflecting the new files, never stale capped
    bands: the memo entry's name folds in the deep fingerprint of
    documents.parquet, and the miss first evicts the superseded entry,
    releasing its cached frames (the CacheManager matches cached data by
    logical plan, so the rebuilt scan would otherwise read them). Until
    then the entry owns those frames: a query boundary leaves them
    cached."""
    import pandas as pd

    from mapreduce_framework_simple_spark import ephemeral
    from mapreduce_framework_simple_spark.operators import dedup as D

    sf = tmp_path / "rewritable"
    sf.mkdir()

    def write(n_docs):
        pd.DataFrame(
            [
                {"doc_id": i,
                 "text": f"wholly distinct document {i} talks about topic "
                         f"{i * 13} and subject {i * 7} extensively",
                 "lang": "en", "source": "web", "n_chars": 70}
                for i in range(n_docs)
            ]
        ).to_parquet(sf / "documents.parquet")

    def bands_entries():
        return {k: held for k, (_, held) in ephemeral._MEMO.items()
                if isinstance(k[0], tuple) and k[0][0] == "capped_corpus_bands"
                and k[2] == str(sf)}

    try:
        write(3)
        first = D.capped_corpus_bands(spark, str(sf))
        assert first.count() == 3 * 4  # 4 bands per doc
        (old_key, old_held), = bands_entries().items()
        assert old_held and all(h.is_cached for h in old_held)
        ephemeral.release_caches()  # a query boundary: the entry keeps them
        assert all(h.storageLevel.useMemory for h in old_held)
        write(5)  # same path, new corpus
        second = D.capped_corpus_bands(spark, str(sf))
        assert second is not first  # fingerprint changed → rebuilt
        assert second.count() == 5 * 4
        assert old_key not in bands_entries()
        assert len(bands_entries()) == 1
        assert not any(h.is_cached for h in old_held)  # superseded, released
    finally:
        ephemeral.clear_memo()


def test_memo_bound_lru_releases_frames_and_keys_on_application(
    spark, tmp_path
):
    """The one memo holds at most MEMO_MAX entries and evicts the least
    recently used first; eviction unpersists the cached frames an entry
    holds; and an entry recorded under another application id never
    hits, so a later session cannot be served a dead session's value."""
    from mapreduce_framework_simple_spark import ephemeral as E

    frames: dict[int, object] = {}

    def put(i):
        def build():
            frames[i] = spark.range(i + 1).cache()
            return frames[i]

        # a distinct plan per entry: frame entries over one plan
        # supersede each other
        return E.memo_stat(("bound_frames", i), spark.range(i + 1),
                           str(tmp_path), build)

    def present(i):
        return any(k[0] == ("bound_frames", i) for k in E._MEMO)

    E.clear_memo()
    try:
        n = E.MEMO_MAX + 1
        for i in range(n):
            assert put(i) is frames[i]
        assert len(E._MEMO) == E.MEMO_MAX
        gone = [i for i in range(n) if not present(i)]
        assert gone and gone == list(range(len(gone)))  # oldest first
        assert all(not frames[i].is_cached for i in gone)
        assert all(frames[i].is_cached for i in range(len(gone), n))
        # a hit makes an entry the most recently used: the next
        # insertion evicts the entry after it instead
        oldest = len(gone)
        assert put(oldest) is frames[oldest]
        put(n)
        assert present(oldest) and not present(oldest + 1)
        # the same entry recorded under another application misses
        key = next(k for k in E._MEMO if k[0] == ("bound_frames", oldest))
        E._MEMO[(key[0], "app-of-another-session") + key[2:]] = E._MEMO.pop(key)
        held = frames[oldest]
        assert put(oldest) is not held
    finally:
        E.clear_memo()


def test_q79_reuses_capped_bands_after_q38(spark, sf_dir):
    """Once q38 has run in a session, q79 takes the capped band frame
    from the memo and runs at most 3 Spark jobs before its action.
    Without the hit it runs 6 (bands and hot-bucket guard rebuilt per
    call) or 10 (q38 on lsh_candidate_pairs' own guard)."""
    from mapreduce_framework_simple_spark import ephemeral as E
    from mapreduce_framework_simple_spark.operators.dedup import (
        q38_minhash_lsh_pairs,
        q79_dedup_components,
    )

    sc = spark.sparkContext
    E.clear_memo()
    q38_minhash_lsh_pairs(spark, sf_dir).write.format("noop").mode(
        "overwrite").save()
    E.release_caches()
    sc.setJobGroup("q79-after-q38", "q79 on a memo hit")
    try:
        q79_dedup_components(spark, sf_dir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup("q79-after-q38"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        E.release_caches()
    assert jobs <= 3, f"q79 ran {jobs} jobs before its action"


def test_fingerprint_remote_scheme_never_stats(spark, sf_dir):
    """On object-store/remote URIs the fingerprint must not hit
    os.stat: without a session it degrades to the documented "nostat"
    sentinel, and with one an unresolvable filesystem degrades the same
    way — never raising into the memo path. Local paths (including ones
    with ':' inside a segment, and file:// URIs) keep the full
    stat-based signal."""
    import os as _os

    from mapreduce_framework_simple_spark import ephemeral as E

    assert E._input_fingerprint("s3a://bucket/corpus.parquet") == "nostat"
    # scheme no Hadoop build can resolve — deterministic even on images
    # that bundle hadoop-aws (a real s3a call would retry for minutes)
    assert E._input_fingerprint("xtest://bucket/corpus.parquet", spark) == "nostat"
    assert E._input_fingerprint("hdfs://nn:8020/corpus.parquet") == "nostat"
    assert E._input_fingerprint("/nonexistent/local/path") == "nostat"
    # bare local path with ':' inside a segment is NOT mistaken for a URI
    assert E._input_fingerprint("data:v2/nonexistent") == "nostat"
    # file:// URIs strip to the local branch: same digest as the bare path
    docs = _os.path.join(sf_dir, "documents.parquet")
    assert E._input_fingerprint(f"file://{docs}") == E._input_fingerprint(docs)
    assert E._input_fingerprint(docs) != "nostat"


def test_fingerprint_hadoop_listing_happy_path(spark, tmp_path):
    """The remote branch's Hadoop listing, exercised for real against
    file:/// (the one scheme every Hadoop build resolves): it must see
    every file with a size, and a rewrite must change the listing — the
    same signal the local branch gets from os.stat."""
    import pandas as pd

    from mapreduce_framework_simple_spark import ephemeral as E

    d = tmp_path / "ds.parquet"
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(d)
    first = E._hadoop_listing(spark, f"file://{d}")
    assert first and all(len(e.rsplit(":", 2)) == 3 for e in first)
    assert sum(int(e.rsplit(":", 2)[1]) for e in first) > 0
    pd.DataFrame({"x": list(range(50))}).to_parquet(d)  # rewrite, same path
    assert sorted(E._hadoop_listing(spark, f"file://{d}")) != sorted(first)


def test_lsh_cap_default_reads_global_at_call_time(spark, monkeypatch):
    """The guard honours a RUNTIME change to LSH_MAX_BUCKET (call-time
    read, not def-time binding), so a patched cap reaches every caller,
    the memoized q38 path included."""
    from mapreduce_framework_simple_spark.operators import dedup as D

    boiler = [(i, "subscribe to our newsletter terms apply all rights "
                  "reserved contact us privacy policy cookie settings")
              for i in range(40)]
    docs = spark.createDataFrame(boiler, "doc_id long, text string")
    bands = D.scoped_cache(D.band_signatures_from(docs))

    def capped():
        return D.lsh_candidate_pairs(D.cap_hot_buckets(bands, "call-time")[0])

    assert capped().count() == 40 * 39 // 2
    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 10)
    assert capped().count() == 0  # cap honored


def test_q36_dispatches_kernels_by_fanout(spark, sf_dir, tmp_path, monkeypatch):
    """q36's kernel dispatch: on an ordinary corpus the naive self-join
    runs (prefix kernel untouched); on a planted dup-heavy corpus the
    measured fan-out crosses JACCARD_FANOUT_DISPATCH and the prefix
    kernel runs — and its answer still equals the naive ground truth."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators import dedup as D

    calls = []
    real_prefix = D._jaccard_prefix_pairs

    def spy(sh, sf_dir):
        calls.append("prefix")
        return real_prefix(sh, sf_dir)

    monkeypatch.setattr(D, "_jaccard_prefix_pairs", spy)

    # ordinary corpus (fan-out ≈ 0.55 at sf0.001): naive kernel
    D.q36_ngram_jaccard(spark, sf_dir).count()
    assert calls == []

    # dup-heavy planted corpus: 160 exact copies + twins → fan-out
    # ≈ 159/2 ≈ 80, clear of the measured-crossover threshold (35)
    # with headroom for the 1/8-sample probe's estimation noise
    rows = [
        {"doc_id": i,
         "text": "subscribe to our newsletter terms apply all rights "
                 "reserved contact us privacy policy cookie settings",
         "lang": "en", "source": "web", "n_chars": 100}
        for i in range(160)
    ] + [
        # ids start clear of the 0..159 boilerplate block — an overlap
        # would merge both texts' shingles under one doc_id and destroy
        # the twin fixture
        {"doc_id": 1000 + i,
         "text": f"twin document shared words alpha beta gamma delta {i % 2}",
         "lang": "en", "source": "web", "n_chars": 50}
        for i in range(4)
    ]
    sf = tmp_path / "dupheavy36"
    sf.mkdir()
    pd.DataFrame(rows).to_parquet(sf / "documents.parquet")

    sh = D.shingle_id_sets(spark, str(sf))
    assert D._jaccard_join_fanout(sh) > D.JACCARD_FANOUT_DISPATCH
    got = D.q36_ngram_jaccard(spark, str(sf)).toPandas()
    assert calls == ["prefix"]
    want = (
        D._jaccard_truth_pairs(sh)
        .select("doc_a", "doc_b",
                F.round(F.col("jaccard_raw"), 6).alias("jaccard"))
        .toPandas()
    )
    key = ["doc_a", "doc_b"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        want.sort_values(key).reset_index(drop=True)
    )
    assert len(got) > 0


def test_fanout_probe_sees_single_hot_shingle(spark, tmp_path):
    """Skew-robustness of the dispatch probe: a corpus whose docs are
    pairwise-unique EXCEPT for one shared boilerplate 3-shingle is the
    exact shape the dispatch exists to catch (that one sid drives the
    naive join quadratic). A per-SID 1-in-8 sample would miss the hot
    sid with probability 7/8; the row-level sample counts ~df/8 of its
    occurrences always, and the debiased estimator must land within 2×
    of the exact fan-out — and above the dispatch threshold."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators import dedup as D

    # exact fan-out ≈ (n-1)/10 (one hot sid of df=n among ~5n sids):
    # n=1000 → ~99.9, clear of the threshold (35) with margin for the
    # 1/8-sample estimator's noise (±~17% at this df)
    n = 1000
    rows = [
        {"doc_id": i,
         "text": f"u{i}a u{i}b shared boiler plate u{i}c u{i}d",
         "lang": "en", "source": "web", "n_chars": 40}
        for i in range(n)
    ]
    sf = tmp_path / "hotshingle"
    sf.mkdir()
    pd.DataFrame(rows).to_parquet(sf / "documents.parquet")

    sh = D.shingle_id_sets(spark, str(sf))
    exact = (
        sh.groupBy("sid")
        .agg(F.count("*").alias("df"))
        .agg((F.sum(F.col("df") * (F.col("df") - 1) / 2) / F.sum("df"))
             .alias("f"))
        .collect()[0]["f"]
    )
    assert exact > D.JACCARD_FANOUT_DISPATCH  # the corpus IS the bad shape
    est = D._jaccard_join_fanout(sh)
    assert est > D.JACCARD_FANOUT_DISPATCH, (
        f"probe missed the hot shingle: est {est:.2f} vs exact {exact:.2f}"
    )
    assert exact / 2 <= est <= exact * 2


def test_q36_fanout_memoized_per_session_and_input(spark, sf_dir, monkeypatch):
    """The dispatch statistic is memoized by ephemeral.memo_stat (per
    session, sf_dir, input fingerprint and plan): q36 consults the
    scalar memo before re-measuring, so repeat runs over immutable
    parquet skip the probe. Seeding the memo with an absurd fan-out must
    flip the kernel choice — proof the memoized value, not a
    re-measurement, drives the dispatch."""
    from mapreduce_framework_simple_spark import ephemeral as E
    from mapreduce_framework_simple_spark.operators import dedup as D

    calls = []
    real_prefix = D._jaccard_prefix_pairs

    def spy(sh, sf_dir):
        calls.append("prefix")
        return real_prefix(sh, sf_dir)

    monkeypatch.setattr(D, "_jaccard_prefix_pairs", spy)
    D.q36_ngram_jaccard(spark, sf_dir).count()
    keys = [
        k for k in E._MEMO
        if k[0] == "jaccard_fanout" and k[1] == spark.sparkContext.applicationId
        and k[2] == sf_dir
    ]
    assert calls == [] and len(keys) == 1  # measured + stored
    monkeypatch.setitem(E._MEMO, keys[0], (1e9, []))
    D.q36_ngram_jaccard(spark, sf_dir).count()
    assert calls == ["prefix"]  # memo hit drove the dispatch


def test_components_driver_kernel_equals_distributed(spark, sf_dir):
    """The size-dispatched components kernels must agree exactly: the
    driver union-find (default at bench scale) and the distributed
    min-label propagation (forced via driver_edge_bound=0) produce the
    identical (doc_id, component) relation on the real LSH candidate
    graph. Also pins the dispatch itself: the real graph is under the
    bound, so the default path must NOT run propagation rounds."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        connected_components,
        q38_minhash_lsh_pairs,
    )

    pairs = q38_minhash_lsh_pairs(spark, sf_dir)
    small = sorted(
        tuple(r) for r in connected_components(pairs).collect()
    )
    big = sorted(
        tuple(r)
        for r in connected_components(pairs, driver_edge_bound=0).collect()
    )
    assert small == big and len(small) > 0

    # planted long chain + separate clique + isolated edge: diameter >> 2
    # exercises union-find path compression and multi-round propagation
    # on the same graph; edges deliberately listed high-to-low so the
    # min-label is NOT the first node union-find encounters
    chain = [(i + 1, i) for i in range(11, 0, -1)]  # 12..1 one component
    clique = [(a, b) for a in (100, 101, 102) for b in (103, 104)]
    planted = spark.createDataFrame(
        chain + clique + [(500, 501)], ["doc_a", "doc_b"]
    )
    got = sorted(tuple(r) for r in connected_components(planted).collect())
    want = sorted(
        [(n, 1) for n in range(1, 13)]
        + [(n, 100) for n in (100, 101, 102, 103, 104)]
        + [(500, 500), (501, 500)]
    )
    assert got == want
    assert got == sorted(
        tuple(r)
        for r in connected_components(planted, driver_edge_bound=0).collect()
    )


def test_components_distributed_round_is_one_action(spark):
    """Each distributed propagation round's changed-count is the job that
    writes the round's lazy checkpoint, so a round pays no separate
    checkpoint job. The planted graph's 12-node chain takes 11 rounds;
    the whole distributed call (gate, seed and the AQE stage jobs of
    each round's join and groupBy included) runs at most 71 jobs, where
    one more job per round would make 82."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        connected_components,
    )

    chain = [(i + 1, i) for i in range(11, 0, -1)]
    clique = [(a, b) for a in (100, 101, 102) for b in (103, 104)]
    planted = spark.createDataFrame(
        chain + clique + [(500, 501)], ["doc_a", "doc_b"]
    )
    sc = spark.sparkContext
    sc.setJobGroup("components-round-jobs", "distributed components")
    try:
        got = connected_components(planted, driver_edge_bound=0).collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup("components-round-jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r.doc_id: r.component for r in got}[12] == 1
    assert jobs <= 71, f"distributed components ran {jobs} jobs"


def test_components_kernels_match_bfs_referee_on_random_graphs(spark):
    """Both dispatched components kernels vs an independent pure-Python
    BFS referee on seeded random multigraphs (sparse, giant-component,
    and dense regimes; duplicate edges, reversed duplicates, and
    self-loops all occur at these densities) — the same
    brute-force-referee pattern as the triangle orientation test, so a
    bug shared by BOTH kernels cannot hide behind their mutual
    equality."""
    import random
    from collections import defaultdict, deque

    from mapreduce_framework_simple_spark.operators.dedup import (
        connected_components,
    )

    for seed, n_nodes, n_edges in [(1, 40, 30), (2, 60, 90), (3, 25, 200)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        want = {}
        for start in sorted(adj):
            if start in want:
                continue
            comp, q = {start}, deque([start])
            while q:
                for v in adj[q.popleft()] - comp:
                    comp.add(v)
                    q.append(v)
            lbl = min(comp)
            for u in comp:
                want[u] = lbl
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        for bound in (0, 10**6):  # 0 forces distributed; 10^6 → driver
            got = {
                r.doc_id: r.component
                for r in connected_components(
                    df, driver_edge_bound=bound
                ).collect()
            }
            assert got == want, (seed, bound)


def test_triangle_degree_order_equals_id_order(spark, sf_dir):
    """Degree-ordered triangle counting (q107's shipped orientation) must
    agree exactly with the plain id-order join — on the real LSH
    candidate graph AND on a planted skewed wheel+clique graph where a
    hot hub would dominate id-order wedge fan-out."""
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators.dedup import (
        q38_minhash_lsh_pairs,
        triangle_count_degree_ordered,
    )

    def id_order_count(pairs):
        e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
        e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
        return (
            e1.join(e2, e1.b == e2.b2)
            .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
            .count()
        )

    def deg_of(pairs):
        return (
            pairs.select(F.col("doc_a").alias("n"))
            .unionAll(pairs.select(F.col("doc_b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )

    real = q38_minhash_lsh_pairs(spark, sf_dir)
    got = triangle_count_degree_ordered(real, deg_of(real)).collect()[0][0]
    assert got == id_order_count(real)

    # wheel (hub 0 to all rim nodes, rim cycle) + a 5-clique sharing one
    # rim node: hub degree 12 vs rim degree 3 — orientation matters here
    rim = list(range(1, 13))
    edges = [(0, r) for r in rim]
    edges += [(min(a, b), max(a, b)) for a, b in zip(rim, rim[1:] + rim[:1])]
    clique = [12, 20, 21, 22, 23]
    edges += [(min(a, b), max(a, b)) for i, a in enumerate(clique)
              for b in clique[i + 1:]]
    planted = spark.createDataFrame(
        sorted(set(edges)), "doc_a long, doc_b long"
    )
    want = id_order_count(planted)
    got2 = triangle_count_degree_ordered(planted, deg_of(planted)).collect()[0][0]
    assert got2 == want == 12 + 10  # 12 wheel triangles + C(5,3) clique


def test_ivf_knn_audit_agrees_with_exact(spark, sf_dir, tmp_path):
    """The IVF leave-one-out kNN audit (the measured subquadratic path
    for q120's semantics at 100 TB) must (a) classify every corpus
    vector, (b) return q120's confusion schema, and (c) agree with the
    exact q120 predictions on >= 0.55 of vectors — the asserted bound
    under ~27-35% probe coverage on the weakly-clustered synthetic
    embeddings (same regime as q41's recall >= 0.6; measured 0.65 on
    the stride index and 0.72 on the k-means index at sf0.001). Run on
    BOTH the oracle-stable stride index and the production k-means
    (K≈sqrt(N)) index — the shipped 100 TB configuration."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import mapreduce_framework_simple_spark.operators.similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    n_corpus = em.count()

    # exact predictions: q120's kernel + the SAME shared vote rule
    scored = S._block_topk_cosine(spark, sf_dir, S.KNN_K).select(
        "query_id", "neighbor_id", F.round(F.col("cos_raw"), 6).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    top = scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= S.KNN_K)
    labels = em.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    p_exact = (
        S._knn_vote_predictions(top, labels)
        .toPandas()
        .set_index("query_id")["pred_label"]
    )

    for tag, cents in [
        ("stride", None),
        ("kmeans", S.kmeans_centroid_frame(spark, sf_dir)),
    ]:
        path = str(tmp_path / f"ivf_knn_idx_{tag}")
        S.write_ivf_index(spark, sf_dir, path, centroids=cents)

        conf = S.ivf_knn_confusion(spark, sf_dir, path).toPandas()
        assert sorted(conf.columns) == ["label", "n", "pred_label"]
        assert conf["n"].sum() == n_corpus  # every vector accounted for

        p_ivf = (
            S.ivf_knn_predictions(em, path)
            .toPandas()
            .set_index("query_id")["pred_label"]
        )
        assert len(p_ivf) == len(p_exact) == n_corpus
        agreement = (p_ivf.sort_index() == p_exact.sort_index()).mean()
        assert agreement >= 0.55, (
            f"{tag} IVF/exact kNN agreement {agreement:.3f} < 0.55"
        )


def test_kmeans_centroid_ivf_recall(spark, sf_dir):
    """The production IVF configuration — seeded k-means centroids at
    K≈sqrt(N) (kmeans_centroid_frame) — must hit the same recall bound
    vs the exact q40 answer as the stride oracle path (measured 0.69
    kmeans vs 0.67 stride at sf0.001), on the SAME probe/score/rank
    code (ann_ivf_topk)."""
    import math

    import mapreduce_framework_simple_spark.operators.similarity as S

    n = S.load_table(spark, "embeddings", sf_dir).count()
    cents = S.kmeans_centroid_frame(spark, sf_dir)
    assert cents.count() == math.isqrt(n - 1) + 1  # K = ⌈√N⌉, the documented sizing

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.q40_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ann_ivf_topk(spark, sf_dir, centroids=cents).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"k-means IVF recall {recall:.3f} < 0.6"


def test_kmeans_ivf_index_roundtrips_centroids(spark, sf_dir, tmp_path):
    """A k-means-built bucketed index stores its centroids alongside the
    cells (<path>/_centroids, invisible to the main index scan), and the
    bucketed probe — reading the geometry back from the index — returns
    exactly the in-memory recompute's answer while still partition-
    pruning the index scan."""
    import mapreduce_framework_simple_spark.operators.similarity as S
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan

    cents = S.kmeans_centroid_frame(spark, sf_dir)
    path = str(tmp_path / "ivf_kmeans_idx")
    S.write_ivf_index(spark, sf_dir, path, centroids=cents)

    stored, stored_meta = S._index_centroids(spark, path)
    assert stored.count() == cents.count() and stored_meta is None
    # the underscore dir is skipped by the main index read
    idx_cols = set(spark.read.parquet(path).columns)
    assert idx_cols == {"vec_id", "embedding", "cell_id"}

    got = S.ivf_probe_bucketed(spark, sf_dir, path)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan
    assert "cell_id" in plan.split("PartitionFilters", 1)[1][:200]
    g = got.toPandas().sort_values(["query_id", "rnk"]).reset_index(drop=True)
    e = (
        S.ann_ivf_topk(spark, sf_dir, centroids=cents)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    cols = ["query_id", "neighbor_id", "rnk"]
    assert g[cols].equals(e[cols])


def test_two_level_ivf_index_roundtrip(spark, sf_dir, tmp_path):
    """A two-level index (built with meta_centroids=) persists its
    routing layer under <path>/_meta_centroids; the bucketed probe
    detects the sidecar, routes its probe selection, and returns exactly
    the in-memory routed recompute's answer — read geometry matches
    build geometry, routing layer included, still partition-pruned."""
    import mapreduce_framework_simple_spark.operators.similarity as S
    from mapreduce_framework_simple_spark.plans.explain import formatted_plan

    em = S.load_table(spark, "embeddings", sf_dir)
    cents = S._stride(em, S.N_CELLS_STRIDE)
    meta = S._stride(em, S.META_STRIDE)
    path = str(tmp_path / "ivf_routed_idx")
    S.write_ivf_index(spark, sf_dir, path, centroids=cents,
                      meta_centroids=meta)

    _, stored_meta = S._index_centroids(spark, path)
    assert stored_meta is not None and stored_meta.count() == meta.count()
    # the underscore dirs stay invisible to the main index scan
    assert set(spark.read.parquet(path).columns) == {
        "vec_id", "embedding", "cell_id",
    }

    got = S.ivf_probe_bucketed(spark, sf_dir, path)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan
    g = got.toPandas().sort_values(["query_id", "rnk"]).reset_index(drop=True)
    e = (
        S.ann_ivf_topk(spark, sf_dir, cents, meta)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    cols = ["query_id", "neighbor_id", "rnk"]
    assert g[cols].equals(e[cols])
    # a FLAT index keeps probing flat (no meta sidecar → None)
    flat_path = str(tmp_path / "ivf_flat_idx")
    S.write_ivf_index(spark, sf_dir, flat_path, centroids=cents)
    assert S._index_centroids(spark, flat_path)[1] is None


def test_write_ivf_index_auto_routes_past_bound(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """write_ivf_index with NO meta_centroids= and a centroid frame past
    the flat broadcast bound must AUTO-build the routing layer
    (k = ⌈√K⌉ via kmeans_centroid_frame) and route, instead of
    surfacing _nearest_cells' refusal — tools/router_probe.py's K=150k
    regime shrunk to test size by lowering MAX_BROADCAST_QUERIES (the
    build's size gate and the flat refusal read the same module
    constant). Every reader of the index must then take the persisted
    routing layer: the bucketed probe returns exactly the routed
    recompute from the PERSISTED layers, and so does the kNN audit,
    which accounts for every vector (build/probe geometry cannot
    drift)."""
    import math

    import pytest
    from pyspark.sql import functions as F

    import mapreduce_framework_simple_spark.operators.similarity as S

    # fine "centroids": deterministic 3/4 corpus subset — router_probe's
    # fixture recipe; the point is the COUNT past the bound, not quality
    em = S.load_table(spark, "embeddings", sf_dir)
    fine = em.where(F.pmod(F.col("vec_id"), F.lit(4)) != 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    k_fine = fine.count()
    monkeypatch.setattr(S, "MAX_BROADCAST_QUERIES", k_fine - 1)

    # the regime being dispatched: flat assignment refuses at this bound
    with pytest.raises(ValueError, match="two-level router"):
        S.ivf_assignments(em, fine)

    path = str(tmp_path / "ivf_auto_routed_idx")
    S.write_ivf_index(spark, sf_dir, path, centroids=fine)  # no meta=

    cents, meta = S._index_centroids(spark, path)
    assert meta is not None, "auto-dispatch did not persist _meta_centroids"
    assert meta.count() == math.ceil(math.sqrt(k_fine))  # production sizing

    got = S.ivf_probe_bucketed(spark, sf_dir, path)
    g = got.toPandas().sort_values(["query_id", "rnk"]).reset_index(drop=True)
    e = (
        S.ann_ivf_topk(spark, sf_dir, cents, meta)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    cols = ["query_id", "neighbor_id", "rnk"]
    assert g[cols].equals(e[cols])

    # the kNN audit on the routed index: every vector accounted for, and
    # equal to the audit recomputed from the persisted layers with the
    # candidates assigned in memory instead of read from the index
    conf = S.ivf_knn_confusion(spark, sf_dir, path).collect()
    assert sum(r["n"] for r in conf) == em.count()
    all_q = em.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cand = S._ivf_probes(em, cents, meta, queries=all_q).join(
        S.ivf_assignments(em, cents, meta), "cell_id"
    )
    pred = S._knn_vote_predictions(
        S._score_and_rank_candidates(cand, k=S.KNN_K),
        em.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("label").alias("nlabel")),
    )
    want = (
        em.select(F.col("vec_id").alias("query_id"), "label")
        .join(pred, "query_id", "left")
        .groupBy("label", "pred_label")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted(conf, key=repr) == sorted(want, key=repr)


def test_ivf_index_missing_sidecar_fails_fast(spark, sf_dir, tmp_path):
    """Every complete index carries its _centroids sidecar (stride builds
    too); a missing sidecar means the build died between the index write
    and the sidecar write. The probe paths must REFUSE such an index —
    probing a k-means-cell index with assumed stride geometry would
    return silently wrong neighbors, violating fail-fast."""
    import shutil

    import pytest

    import mapreduce_framework_simple_spark.operators.similarity as S

    path = str(tmp_path / "ivf_partial_idx")
    S.write_ivf_index(spark, sf_dir, path)  # stride build writes one too
    assert S._index_centroids(spark, path)[0].count() > 0

    shutil.rmtree(path + "/_centroids")  # simulate the partial build
    with pytest.raises(ValueError, match="_centroids sidecar"):
        S.ivf_probe_bucketed(spark, sf_dir, path)
    with pytest.raises(ValueError, match="_centroids sidecar"):
        S.ivf_knn_confusion(spark, sf_dir, path).collect()


def test_write_ivf_index_rejects_bad_cell_ids(spark, sf_dir, tmp_path):
    """The index contract (non-negative cell ids, so the probe's
    ``cell_id >= 0`` partition filter selects every cell) holds on both
    branches of the build: a NULL or negative id in a flat centroid set
    fails on its collected rows, and a negative id beside an explicit
    meta layer fails on the cached frame. Nothing is written."""
    import os

    import pytest
    from pyspark.sql import functions as F

    import mapreduce_framework_simple_spark.operators.similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    good = S._stride(em, S.N_CELLS_STRIDE)
    first = good.agg(F.min("cell_id")).first()[0]

    def with_id(bad):
        return good.withColumn("cell_id", F.when(
            F.col("cell_id") == first, bad).otherwise(F.col("cell_id")))

    path = str(tmp_path / "bad_ids")
    for bad in (F.lit(None).cast("long"), F.lit(-1).cast("long")):
        with pytest.raises(ValueError, match="non-negative cell ids"):
            S.write_ivf_index(spark, sf_dir, path, centroids=with_id(bad))
    with pytest.raises(ValueError, match="non-negative cell ids"):
        S.write_ivf_index(spark, sf_dir, path,
                          centroids=with_id(F.lit(-1).cast("long")),
                          meta_centroids=S._stride(em, S.META_STRIDE))
    assert not os.path.exists(path)


def test_write_ivf_index_stride_build_job_count(spark, sf_dir, tmp_path):
    """A flat stride build runs at most 5 jobs: one embeddings read, the
    one centroid collect (which also answers the cell-id contract check
    with no job), two for the index write and one for the sidecar."""
    import mapreduce_framework_simple_spark.operators.similarity as S

    path = str(tmp_path / "stride_idx")
    S.write_ivf_index(spark, sf_dir, path)  # cold: codegen
    sc = spark.sparkContext
    sc.setJobGroup("ivf-stride-build", "stride build")
    try:
        S.write_ivf_index(spark, sf_dir, path)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup("ivf-stride-build"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs <= 5, f"stride build ran {jobs} jobs"


def test_lsh_guard_job_counts(spark, sf_dir, tmp_path, monkeypatch):
    """Build plus collect, counted by job group: q38 with the memo
    cleared runs at most 9 jobs, the incremental probe at most 12, and
    the capped pairs of the loaded planted cap-fire corpus at cap 10 at
    most 10. Each extra guard action or re-read shows here first."""
    from mapreduce_framework_simple_spark import ephemeral as E
    from mapreduce_framework_simple_spark.operators import dedup as D

    docs = D.load_table(spark, "documents", sf_dir)
    idx = str(tmp_path / "lsh_idx")
    D.write_lsh_index(docs.where("doc_id % 10 != 0"), idx)
    batch = docs.where("doc_id % 10 = 0")

    def cold_q38():
        E.clear_memo()
        return D.q38_minhash_lsh_pairs(spark, sf_dir)

    planted = D.load_table(
        spark, "documents", _plant_cap_fire_corpus(tmp_path, "planted_jobs")[0])

    def planted_pairs():
        bands = D.scoped_cache(D.band_signatures_from(planted))
        return D.lsh_candidate_pairs(D.cap_hot_buckets(bands, "planted")[0])

    try:
        for name, build, bound in (
            ("q38-cold", cold_q38, 9),
            ("incremental", lambda: D.incremental_lsh_candidates(
                spark, batch, idx), 12),
        ):
            _, total = _jobs_before_and_total(spark, name, build)
            E.release_caches()
            assert total <= bound, f"{name} ran {total} jobs"
        monkeypatch.setattr(D, "LSH_MAX_BUCKET", 10)
        _, total = _jobs_before_and_total(spark, "planted-cap10", planted_pairs)
        assert total <= 10, f"planted cap-fire pairs ran {total} jobs"
    finally:
        E.release_caches()
        E.clear_memo()


def test_triangle_degree_order_random_graphs(spark):
    """Property check of the degree-ordered triangle kernel against a
    brute-force pure-Python triple enumeration on random graphs — an
    engine-independent referee (the oracle and the earlier equality test
    both count via joins; this one counts by definition). Ten seeded
    graphs spanning sparse, dense, star-skewed, and multi-component
    shapes."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators.dedup import (
        triangle_count_degree_ordered,
    )

    for seed in range(10):
        rng = random.Random(seed)
        n = rng.randint(4, 14)
        p = rng.choice([0.15, 0.35, 0.7])
        edges = {(a, b) for a in range(n) for b in range(a + 1, n)
                 if rng.random() < p}
        if seed % 3 == 0:  # star-skew: hub 0 connects to everyone
            edges |= {(0, b) for b in range(1, n)}
        if not edges:
            continue
        adj = set(edges)
        want = sum(
            1 for a, b, c in itertools.combinations(range(n), 3)
            if (a, b) in adj and (b, c) in adj and (a, c) in adj
        )
        pairs = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
        deg = (
            pairs.select(F.col("doc_a").alias("n"))
            .unionAll(pairs.select(F.col("doc_b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        got = triangle_count_degree_ordered(pairs, deg).collect()[0][0]
        assert got == want, f"seed={seed} n={n} p={p}: got {got}, want {want}"


def test_q112_oracle_matches_when_cap_fires(spark, tmp_path, monkeypatch):
    """The anchored q112 must stay hash-equal to its DuckDB oracle on a
    corpus where the hot-bucket cap FIRES: the candidate side (memoized
    capped corpus bands) and the oracle's bok/kept mirror must drop the
    same boilerplate bucket, while the anchored truth side still sees
    those pairs — precision/recall genuinely exercised by the cap."""
    from mapreduce_framework_simple_spark.operators import dedup as D
    from tests.oracle_harness import compare_frames

    sf, con = _plant_cap_fire_corpus(tmp_path, "planted112")
    ddf = con.execute(_cap10_oracle("q112_lsh_quality")).fetchdf()

    # the memo key includes the cap value, so the patched cap gets its
    # own fresh entry — no stale-frame hazard; released in the finally
    # so the planted corpus's cached bands don't pollute executor
    # storage for the rest of the suite
    from mapreduce_framework_simple_spark import ephemeral

    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 10)
    try:
        sdf = D.q112_lsh_quality(spark, sf).toPandas()
    finally:
        ephemeral.clear_memo()
    assert compare_frames(sdf, ddf) == []
    row = sdf.iloc[0]
    # truth includes the boilerplate clique; capped candidates exclude it
    assert row["n_truth"] > row["n_candidates"] > 0
    assert row["recall"] < 1.0 and row["precision"] == 1.0


def test_whitespace_class_parity_on_vertical_tab(spark, tmp_path):
    """Java's \\s includes vertical tab U+000B; DuckDB's RE2 \\s does not
    — with a bare \\s in the normalizer/tokenizer the two engines would
    normalize 'a\\x0bb' differently and q35's dedup groups (and every
    tokenized oracle) would hash-mismatch. The explicit whitespace class
    must keep both engines identical on a corpus containing one."""
    import pandas as pd

    from mapreduce_framework_simple_spark.operators.dedup import q35_dedup_exact
    from mapreduce_framework_simple_spark.operators.text import q30_word_count
    from mapreduce_framework_simple_spark.registry import ORACLES, load_all
    from tests.oracle_harness import compare_frames, duck_connection

    rows = [
        {"doc_id": 0, "text": "alpha\x0bbeta gamma", "lang": "en",
         "source": "web", "n_chars": 16},
        {"doc_id": 1, "text": "alpha \x0b beta gamma", "lang": "en",
         "source": "web", "n_chars": 18},
        {"doc_id": 2, "text": "alpha beta gamma", "lang": "en",
         "source": "web", "n_chars": 16},
    ]
    sf = tmp_path / "vtab"
    sf.mkdir()
    pd.DataFrame(rows).to_parquet(sf / "documents.parquet")
    load_all()
    con = duck_connection(str(sf))
    for fn, name in [(q35_dedup_exact, "q35_dedup_exact"),
                     (q30_word_count, "q30_word_count")]:
        sdf = fn(spark, str(sf)).toPandas()
        ddf = con.execute(ORACLES[name]).fetchdf()
        problems = compare_frames(sdf, ddf)
        assert not problems, f"{name}: {problems[:3]}"
    # all three docs normalize to ONE dedup group under the shared class
    assert len(q35_dedup_exact(spark, str(sf)).collect()) == 1


def test_hyperplane_lsh_pairs_custom_id_col(spark, sf_dir):
    """The id_col parameter must actually work: the batch fed to the
    signature kernel is aliased to vec_id, and indexing it by the
    caller's column name raised KeyError for any non-default id_col."""
    from pyspark.sql import functions as F

    import mapreduce_framework_simple_spark.operators.similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    want = sorted(
        tuple(r) for r in S.hyperplane_lsh_pairs(
            em, threshold=S.NEARDUP_LSH_THRESHOLD
        ).collect()
    )
    renamed = em.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("emb")
    )
    got = sorted(
        tuple(r) for r in S.hyperplane_lsh_pairs(
            renamed, threshold=S.NEARDUP_LSH_THRESHOLD,
            id_col="doc_id", vec_col="emb",
        ).collect()
    )
    assert got == want and len(want) > 0


def test_scoped_broadcast_released_at_boundary(spark):
    """sc.broadcast handles registered via scoped_broadcast are
    unpersisted (executor copies dropped, value re-shippable) by the
    next release_caches boundary — one kernel invocation must not pin a
    torrent copy for the rest of the session."""
    from mapreduce_framework_simple_spark import ephemeral

    ephemeral.release_caches()
    bc = ephemeral.scoped_broadcast(spark.sparkContext.broadcast([1, 2, 3]))
    assert ephemeral._SCOPED_BCAST == [bc]
    ephemeral.release_caches()
    assert ephemeral._SCOPED_BCAST == []
    # unpersist (not destroy): the value must still be usable afterwards
    assert bc.value == [1, 2, 3]


def test_cosine_core_ships_by_value(tmp_path):
    """The kernels' shared arithmetic must unpickle and run where this
    package cannot be imported — an executor of a session the engine
    did not configure. A core function that cloudpickle serialized by
    module reference would import the package on load (and fail
    there)."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from mapreduce_framework_simple_spark.operators.similarity import _cosine_core

    blob = tmp_path / "core.pkl"
    blob.write_bytes(cloudpickle.dumps(_cosine_core()))
    script = (
        "import pickle, sys\n"
        "import numpy as np\n"
        f"core = pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        "a = np.array([[0.0, 0.0, 0.0], [3.0, 0.0, 4.0]])\n"
        "b = np.array([[1.0, 2.0, 2.0], [0.0, 3.0, 4.0]])\n"
        "print(core.norms(a).tolist())\n"
        "print(core.micro(core.paired(a, b)).tolist())\n"
        "print('mapreduce_framework_simple_spark' in sys.modules)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        check=True, capture_output=True, text=True,
    ).stdout.split()
    # zero row: guarded norm 1, cosine exactly 0; (3,0,4)·(0,3,4) = 16/25
    assert out == ["[1.0,", "5.0]", "[0,", "640000]", "False"]


def test_cosine_core_top_k_matches_bruteforce():
    """The core's vectorized margin top-k against the per-query rule it
    encodes: drop self; keep every candidate when there are ≤ k of
    them; otherwise keep rounded scores ≥ the k-th rounded
    score − 1e-6. Scores sit on a 6-dp grid with sub-quantum jitter, so
    rounded ties (and near-ties one quantum below the k-th) are forced;
    the self id is present in some query rows and absent in others."""
    import numpy as np

    from mapreduce_framework_simple_spark.operators.similarity import _cosine_core

    core = _cosine_core()
    rng = np.random.RandomState(7)
    checked = 0
    for _ in range(40):
        nq, nn = rng.randint(1, 6), rng.randint(1, 12)
        sims = (0.5 + rng.randint(-3, 4, size=(nq, nn)) * 1e-6
                + rng.uniform(-4e-7, 4e-7, size=(nq, nn)))
        nids = rng.permutation(100)[:nn].astype("int64")
        qids = np.where(rng.rand(nq) < 0.5, rng.choice(nids, nq),
                        1000 + np.arange(nq)).astype("int64")
        for k in (1, 2, 3, nn - 1, nn, nn + 1):
            if k < 1:
                continue
            got = core.top_k(sims, qids, nids, k)
            for i in range(nq):
                cand = [j for j in range(nn) if nids[j] != qids[i]]
                if len(cand) <= k:
                    want = set(cand)
                else:
                    r6 = {j: np.round(sims[i, j], 6) for j in cand}
                    kth = sorted(r6.values(), reverse=True)[k - 1]
                    want = {j for j in cand if r6[j] >= kth - 1e-6}
                assert set(np.nonzero(got[i])[0].tolist()) == want
                checked += 1
    assert checked > 500


def test_zero_norm_vectors_score_zero_not_nan(spark, sf_dir):
    """Zero-norm embeddings pin cosine to 0 (the iterative._assign
    convention) in every kernel — without the guard, 0/0 = NaN fails
    every prune comparison (the pair silently vanishes from top-k) and
    NaN→int64 in the HALF_UP micro-unit ranking is undefined (a garbage
    cell assignment)."""
    import mapreduce_framework_simple_spark.operators.similarity as S

    dim = 64
    zero = [0.0] * dim
    one = [1.0] + [0.0] * (dim - 1)
    # scan kernel: a zero-vector QUERY must emit sim 0 rows, not vanish
    ref = spark.createDataFrame(
        [(10**9, zero), (10**9 + 1, one)], "vec_id long, embedding array<double>"
    )
    out = S._pairwise_cosine_scan(
        S.load_table(spark, "embeddings", sf_dir), ref.toPandas(), S.TOP_K
    ).toPandas()
    zq = out[out["query_id"] == 10**9]
    assert len(zq) > 0 and (zq["cos_sim_raw"] == 0.0).all()
    assert out["cos_sim_raw"].notna().all()

    # nearest-cells kernel: a zero vector must take a DEFINED cell —
    # sim 0 to every centroid, ties to the smaller cell_id
    df = spark.createDataFrame(
        [(1, zero), (2, one)], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(7, one), (9, [0.0, 1.0] + [0.0] * (dim - 2))],
        "cell_id long, c_emb array<double>",
    )
    cells = {
        r["vec_id"]: r["cell_id"]
        for r in S._nearest_cells(df, "vec_id", "embedding", cents, top_n=1).collect()
    }
    assert cells[1] == 7  # tie at sim 0 → smaller cell_id
    assert cells[2] == 7  # argmax, sanity


def test_score_and_rank_kernel_matches_fold_formulation(spark, sf_dir):
    """_score_and_rank_candidates' Arrow kernel must emit EXACTLY the
    (query, neighbor, cos_sim, rnk) rows of the JVM higher-order-fold
    formulation it replaced (dot/norm expr + F.round HALF_UP + window)
    — the bit-parity contract every kernel swap in this module pins."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import mapreduce_framework_simple_spark.operators.similarity as S

    em = S.load_table(spark, "embeddings", sf_dir)
    cents = S.scoped_cache(S._stride(em, S.N_CELLS_STRIDE))
    assigned = S.ivf_assignments(em, cents)
    cand = S._ivf_probes(em, cents).join(assigned, "cell_id")
    got = sorted(
        tuple(r) for r in S._score_and_rank_candidates(cand).collect()
    )
    scored = cand.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            S.dot_expr("q_emb", "embedding")
            / (S.norm_expr("q_emb") * S.norm_expr("embedding")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    want = sorted(
        tuple(r)
        for r in scored.withColumn(
            "rnk", F.row_number().over(w).cast("long")
        ).where(F.col("rnk") <= S.TOP_K).collect()
    )
    assert got == want and len(want) > 0


def test_hyperplane_dim_mismatch_fails_loudly(spark):
    """A non-64-dim vector column must fail the signature kernel with
    the dimension message, not silently truncate the hyperplane matrix
    (the SQL twin NULL-pads via list_zip — the two candidate sets would
    disagree without a sound)."""
    import pytest

    import mapreduce_framework_simple_spark.operators.similarity as S

    df = spark.createDataFrame(
        [(1, [1.0] * 32), (2, [0.5] * 32)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="dim"):
        S.hyperplane_lsh_pairs(df, threshold=0.0).collect()


def test_truth_kernel_ratio_prefilter_keeps_boundary_pair(spark, tmp_path):
    """The round-13 length-ratio prefilter (min(n)/max(n) >= t before the
    pair exchange) must keep a pair sitting exactly ON the bound: A ⊂ B
    with |A| = 4, |B| = 8 has min/max = 0.5 AND J = 4/(4+8-4) = 0.5 — a
    strict >, a swapped least/greatest, or a float-unsafe rewrite would
    drop a pair the threshold rule keeps. Also pins kernel output
    against an inline UNFILTERED reference on a mixed-length corpus."""
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators import dedup as D

    rows = (
        [(1, s) for s in range(4)]          # A = {0..3}
        + [(2, s) for s in range(8)]        # B = {0..7} ⊇ A, boundary pair
        + [(3, s) for s in range(100, 110)]  # C: 10 shingles
        + [(4, s) for s in range(100, 130)]  # D: 30 — ratio 1/3 < t, shares C's
        + [(5, s) for s in range(100, 121)]  # E: 21 — vs C ratio 10/21 < t
    )
    sh = spark.createDataFrame(rows, "doc_id long, sid long")
    got = {
        (r.doc_a, r.doc_b, round(r.jaccard_raw, 6))
        for r in D._jaccard_truth_pairs(sh).collect()
    }
    assert (1, 2, 0.5) in got, "boundary pair (min/max == t == J) was dropped"

    # unfiltered reference (the pre-round-13 kernel, inline)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    want = {
        (r.doc_a, r.doc_b, round(r.jaccard_raw, 6))
        for r in D._jaccard_filter(inter, cnt).collect()
    }
    assert got == want, f"prefiltered kernel diverged: {got ^ want}"

    # the PREFIX kernel's round-13 candidate pruning (length-ratio +
    # positional) must keep the same boundary pair: with A = {0..3} ⊂
    # B = {0..7} and equal shingle frequencies the globally-first common
    # shingle sits at pos 1 in both prefixes, making the positional
    # bound exactly tight (1 + min(3, 7) = 4 = α = (4+8)/3 rounded up)
    got_prefix = {
        (r.doc_a, r.doc_b, round(r.jaccard_raw, 6))
        for r in D._jaccard_prefix_pairs(sh, str(tmp_path)).collect()
    }
    assert got_prefix == want, (
        f"prefix kernel diverged after candidate pruning: {got_prefix ^ want}"
    )


_KERNEL_ROWS = (
    [(1, s) for s in range(4)]
    + [(2, s) for s in range(8)]
    + [(3, s) for s in range(100, 110)]
    + [(4, s) for s in range(100, 130)]
    + [(5, s) for s in range(100, 121)]
    + [(6, s) for s in range(100, 110)]
)


def test_jaccard_kernels_ignore_foreign_n_column(spark, tmp_path):
    """Both Jaccard kernels read the per-doc shingle count from their own
    ``__doc_n`` column: a caller's (doc_id, sid, n) frame whose ``n``
    means something else must give exactly the bare frame's rows."""
    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators import dedup as D

    bare = spark.createDataFrame(list(_KERNEL_ROWS), "doc_id long, sid long")
    foreign = bare.withColumn("n", F.lit(1).cast("long"))

    def rows(df):
        return sorted(
            (r.doc_a, r.doc_b, round(r.jaccard_raw, 6)) for r in df.collect()
        )

    want = rows(D._jaccard_truth_pairs(bare))
    assert want, "fixture must produce pairs"
    assert rows(D._jaccard_truth_pairs(foreign)) == want
    assert rows(D._jaccard_prefix_pairs(foreign, str(tmp_path))) == want


def test_prefix_packed_sizing_job_runs_once(spark, tmp_path):
    """The prefix kernel's packed-broadcast sizing aggregate is a
    planner statistic memoized by ephemeral.memo_stat: building the
    kernel twice over the same input runs its eager sizing job once."""
    from mapreduce_framework_simple_spark import ephemeral as E
    from mapreduce_framework_simple_spark.operators import dedup as D

    sc = spark.sparkContext
    sh = spark.createDataFrame(list(_KERNEL_ROWS), "doc_id long, sid long")
    E.clear_memo()
    sc.setJobGroup("packed-sizing-test", "packed sizing memo")
    try:
        D._jaccard_prefix_pairs(sh, str(tmp_path))  # plan only: no action
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        first = len(sc.statusTracker().getJobIdsForGroup("packed-sizing-test"))
        D._jaccard_prefix_pairs(sh, str(tmp_path))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        second = len(sc.statusTracker().getJobIdsForGroup("packed-sizing-test"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert first >= 1, "first build must measure the packed size"
    assert second == first, "second build re-ran the sizing job"

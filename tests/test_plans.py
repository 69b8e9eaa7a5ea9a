"""Plan-quality assertions (the 100 TB story, made testable):
filters/projections reach the parquet scan, dimension joins broadcast,
hot paths stay inside whole-stage codegen, top-k avoids global sorts.
"""

from __future__ import annotations

from mapreduce_framework_simple_spark.operators.relational import (
    q01_pricing_summary,
    q02_filter_project,
    q03_top_revenue,
    q05_join_chain,
    q07_broadcast_brand,
    q13_window_topk,
    q17_sort_limit,
)
from mapreduce_framework_simple_spark.plans.explain import (
    codegen_stage_count,
    formatted_plan,
    has_broadcast_join,
    has_broadcast_nlj,
    has_pushed_filters,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = q02_filter_project(spark, sf_dir)
    assert has_pushed_filters(df), "predicates did not push into the parquet scan"


def test_column_pruning(spark, sf_dir):
    plan = formatted_plan(q01_pricing_summary(spark, sf_dir))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, "no scan in plan"
    # q01 touches 7 of 11 lineitem columns; unused ones must not be read
    assert "l_orderkey" not in scan_lines[0]
    assert "l_partkey" not in scan_lines[0]


def test_dim_joins_broadcast(spark, sf_dir):
    # Hint policy (round 6): q03's dim is UNHINTED (the planner's size
    # estimate decides — broadcast under threshold, shuffle join beyond),
    # q05 hints only fixed-size nation/region, q07's demo hint is
    # size-dispatched. At bench SF all three must still plan a broadcast
    # join.
    for q in (q03_top_revenue, q05_join_chain, q07_broadcast_brand):
        df = q(spark, sf_dir)
        assert has_broadcast_join(df), f"{q.__name__} lost its broadcast"
        # and none of these equi-joins may regress to the quadratic
        # BroadcastNestedLoopJoin form (a lost equality condition)
        assert not has_broadcast_nlj(df), f"{q.__name__} planned a BNLJ"


def test_q07_hint_dispatch_over_bound_equal(spark, sf_dir, monkeypatch):
    """q07's broadcast hint is size-dispatched: force the over-bound
    branch (bound=0 → dim left unhinted for the planner) and assert BOTH
    that the hint node is actually gone from the analyzed plan (an
    inverted dispatch condition must fail here, not just swap strategies)
    and that the result is row-identical — the dispatch may only ever
    change strategy, never the answer."""
    from mapreduce_framework_simple_spark.operators import relational as R

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    under = q07_broadcast_brand(spark, sf_dir)
    assert "ResolvedHint" in analyzed(under), "under-bound branch lost its hint"
    hinted = under.toPandas().sort_values("brand")
    monkeypatch.setattr(R, "DIM_BROADCAST_ROW_BOUND", 0)
    over = q07_broadcast_brand(spark, sf_dir)
    assert "ResolvedHint" not in analyzed(over), "over-bound branch kept the hint"
    unhinted = over.toPandas().sort_values("brand")
    assert hinted.reset_index(drop=True).equals(unhinted.reset_index(drop=True))


def _dim_rows(df, sf_dir, bound):
    """The row count q07's memoized dim gate (the function q07 calls)
    reports for ``df``."""
    from mapreduce_framework_simple_spark.operators.relational import _dim_gate

    return _dim_gate(df, sf_dir, bound)[1]


def test_size_gate_exact_bounded_one_job(spark, tmp_path, monkeypatch):
    """``size_gate`` on a parquet scan, in both modes: exact at and below
    the bound (empty frame and ``bound = 0`` included), no value past
    it, at most ``bound + 1`` rows fetched, and one Spark job per call,
    counted by job group."""
    from mapreduce_framework_simple_spark.ephemeral import size_gate

    frame_cls = type(spark.range(1))
    fetched = []
    to_pandas = frame_cls.toPandas

    def spy(self):
        pdf = to_pandas(self)
        fetched.append(len(pdf))
        return pdf

    monkeypatch.setattr(frame_cls, "toPandas", spy)
    sc = spark.sparkContext

    def gate(n, bound, collect):
        path = str(tmp_path / f"n{n}")
        spark.range(n).repartition(3).write.mode("ignore").parquet(path)
        df = spark.read.parquet(path)
        group = f"size-gate-{n}-{bound}-{collect}"
        sc.setJobGroup(group, group)
        try:
            fetched.clear()
            out = size_gate(df, bound, collect=collect)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert fetched and max(fetched) <= bound + 1, (n, bound, fetched)
        assert jobs == 1, f"size_gate({n} rows, {bound}) ran {jobs} jobs"
        return out

    for collect in (False, True):
        for n, bound in ((0, 0), (0, 5), (1, 0), (5, 5), (6, 5), (40, 5)):
            fits, value = gate(n, bound, collect)
            assert fits == (n <= bound), (n, bound, collect)
            if not fits:
                assert value is None
            elif collect:
                assert sorted(value["id"].tolist()) == list(range(n))
            else:
                assert value == n


def test_dim_probe_recounts_after_rewrite(spark, tmp_path):
    """memo_stat keys on the input fingerprint of sf_dir: an in-session
    overwrite of the parquet under sf_dir must re-probe — a stale
    under-bound count would force a broadcast hint onto a dim that has
    since grown past the bound."""
    import pandas as pd

    sf = tmp_path / "dimsf"
    sf.mkdir()
    path = sf / "part.parquet"

    def write(n):
        pd.DataFrame({"p_partkey": list(range(n))}).to_parquet(path)

    write(3)
    assert _dim_rows(spark.read.parquet(str(path)), str(sf), 10) == 3
    write(7)  # same path, grown dim, identical plan semantic hash
    assert _dim_rows(spark.read.parquet(str(path)), str(sf), 10) == 7


def test_dim_probe_fingerprint_guard_skips_deep_walk_on_hit(
    spark, tmp_path, monkeypatch
):
    """The deep _input_fingerprint (stats every data file under sf_dir)
    must run only when the SHALLOW signature (one stat per directory)
    changes — a probe-memo hit costs O(#dirs) stats, not a walk of the
    whole input; a rewrite still re-fingerprints."""
    import pandas as pd

    from mapreduce_framework_simple_spark import ephemeral

    sf = tmp_path / "guardsf"
    sf.mkdir()
    path = sf / "part.parquet"

    def write(n):
        pd.DataFrame({"p_partkey": list(range(n))}).to_parquet(path)

    write(3)
    deep_calls = []
    orig = ephemeral._input_fingerprint

    def counting(p, s=None):
        deep_calls.append(p)
        return orig(p, s)

    monkeypatch.setattr(ephemeral, "_input_fingerprint", counting)
    df = spark.read.parquet(str(path))
    assert _dim_rows(df, str(sf), 10) == 3
    n_first = len(deep_calls)
    assert n_first >= 1
    for _ in range(3):  # unchanged input: shallow guard, zero deep walks
        assert _dim_rows(df, str(sf), 10) == 3
    assert len(deep_calls) == n_first
    write(7)  # rewrite: shallow signature changes → deep re-fingerprint
    assert _dim_rows(spark.read.parquet(str(path)), str(sf), 10) == 7
    assert len(deep_calls) > n_first


def test_dim_probe_fingerprint_guard_sees_partition_rewrite(
    spark, tmp_path, monkeypatch
):
    """A partition-scoped overwrite swaps files INSIDE table/date=x/
    without touching the table dir's own entry — the guard must still
    re-fingerprint (it stats every directory, and replacing an entry
    bumps its immediate parent dir's mtime at any depth)."""
    import pandas as pd

    from mapreduce_framework_simple_spark import ephemeral

    sf = tmp_path / "partsf"
    part_dir = sf / "part.parquet" / "date=1"
    part_dir.mkdir(parents=True)

    def write(n, fname):
        for old in part_dir.glob("*.parquet"):
            old.unlink()  # entry delete+create: the writer pattern
        pd.DataFrame({"p_partkey": list(range(n))}).to_parquet(
            part_dir / fname
        )

    write(3, "f1.parquet")
    deep_calls = []
    orig = ephemeral._input_fingerprint

    def counting(p, s=None):
        deep_calls.append(p)
        return orig(p, s)

    monkeypatch.setattr(ephemeral, "_input_fingerprint", counting)
    tbl = str(sf / "part.parquet")
    assert _dim_rows(spark.read.parquet(tbl), str(sf), 10) == 3
    n_first = len(deep_calls)
    write(7, "f2.parquet")  # partition-scoped rewrite, table dir untouched
    assert _dim_rows(spark.read.parquet(tbl), str(sf), 10) == 7
    assert len(deep_calls) > n_first


def test_memo_stat_bounded_oldest_first(spark, tmp_path):
    """memo_stat keeps at most MEMO_MAX entries and drops the
    oldest first: the newest statistic still hits, the oldest is
    measured again."""
    from mapreduce_framework_simple_spark import ephemeral

    df = spark.range(1)
    calls = []

    def stat(i):
        return ephemeral.memo_stat(("bound_test", i), df, str(tmp_path),
                                   lambda: calls.append(i) or i)

    ephemeral.clear_memo()
    n = ephemeral.MEMO_MAX + 1
    for i in range(n):
        assert stat(i) == i
    assert len(ephemeral._MEMO) == ephemeral.MEMO_MAX
    assert stat(n - 1) == n - 1
    assert calls == list(range(n))
    assert stat(0) == 0
    assert calls == list(range(n)) + [0]


def test_no_cartesian_in_star_join(spark, sf_dir):
    plan = formatted_plan(q05_join_chain(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_present(spark, sf_dir):
    for q in (q01_pricing_summary, q02_filter_project, q13_window_topk):
        df = q(spark, sf_dir)
        df.collect()  # AQE annotates codegen ids only in the final executed plan
        assert codegen_stage_count(df) >= 1, f"{q.__name__} fell out of codegen"


def test_global_topk_avoids_total_sort(spark, sf_dir):
    plan = formatted_plan(q17_sort_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "ORDER BY+LIMIT planned as a global sort"


def test_window_topk_group_limit_pushdown(spark, sf_dir):
    plan = formatted_plan(q13_window_topk(spark, sf_dir))
    assert "WindowGroupLimit" in plan, "rank filter not pushed below the window sort"


def test_sampling_filters_no_shuffle(spark, sf_dir):
    """q83/q85/q90 are scan-local: zero exchanges anywhere in the plan."""
    from mapreduce_framework_simple_spark.operators.relational import q90_unpivot
    from mapreduce_framework_simple_spark.operators.sampling import (
        q83_hash_sample,
        q85_dataset_mix,
    )

    for q in (q83_hash_sample, q85_dataset_mix, q90_unpivot):
        plan = formatted_plan(q(spark, sf_dir))
        assert "Exchange" not in plan, f"{q.__name__} grew a shuffle"


def test_asof_join_single_shuffle_no_join(spark, sf_dir):
    """The union+window as-of join must plan as ONE exchange and NO join
    operator — that absence IS the scale guarantee (no range-join pair
    blowup)."""
    from mapreduce_framework_simple_spark.operators.temporal import q82_asof_join

    import re

    plan = formatted_plan(q82_asof_join(spark, sf_dir))
    # formatted plans list each node twice (tree + detail); count details
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, "as-of join should shuffle exactly once"
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, f"as-of join planned a {op}"


def test_range_join_window_form_single_shuffle_no_join(spark, sf_dir):
    """q27's round-12 window-frame rewrite: ONE exchange, a Window node,
    NO join operator — the absence of the join is the scale guarantee
    (no O(n_u²) same-user pair evaluation) — and row-identical output to
    the retired self-join formulation on the real events table."""
    from mapreduce_framework_simple_spark.operators.relational import (
        q27_range_join,
        range_join_pairs_join,
    )

    import re

    df = q27_range_join(spark, sf_dir)
    plan = formatted_plan(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, "window-form range join should shuffle exactly once"
    assert "Window" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct"):
        assert op not in plan, f"range join regressed to a {op}"
    got = df.toPandas().sort_values("user_id").reset_index(drop=True)
    want = (
        range_join_pairs_join(spark, sf_dir)
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    assert got.equals(want), "window formulation diverged from the join form"


def test_time_range_frame_single_shuffle(spark, sf_dir):
    from mapreduce_framework_simple_spark.operators.relational import (
        q88_time_range_frame,
    )

    import re

    plan = formatted_plan(q88_time_range_frame(spark, sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1
    assert "Window" in plan


def test_decontamination_probe_broadcasts(spark, sf_dir):
    """The probe (benchmark) shingle set must broadcast — the corpus side
    of the contamination check never shuffles for the join."""
    from mapreduce_framework_simple_spark.operators.dedup import q91_decontamination

    assert has_broadcast_join(q91_decontamination(spark, sf_dir))


def test_stratified_sample_group_limit_pushdown(spark, sf_dir):
    from mapreduce_framework_simple_spark.operators.sampling import (
        q84_stratified_sample,
    )

    plan = formatted_plan(q84_stratified_sample(spark, sf_dir))
    assert "WindowGroupLimit" in plan, "k-per-stratum cut not pushed below sort"


def test_repetition_score_no_shuffle(spark, sf_dir):
    """q97 must stay a map-side transform: all dup-fraction math runs
    inside each row's arrays — a shuffle would mean someone rewrote it
    with explode+groupBy."""
    from mapreduce_framework_simple_spark.operators.text import (
        q97_repetition_score,
    )

    plan = formatted_plan(q97_repetition_score(spark, sf_dir))
    assert "Exchange" not in plan, "q97 grew a shuffle"


def test_gopher_gate_single_logical_shuffle(spark, sf_dir):
    """q98's only wide op is the (doc, word) top-word count; everything
    else is map-side. Two physical exchanges max (word count + join
    alignment), never a sort-merge join of the corpus against itself."""
    import re

    from mapreduce_framework_simple_spark.operators.text import q98_gopher_rules

    plan = formatted_plan(q98_gopher_rules(spark, sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 2, f"q98 shuffles {n_exchanges}×"
    assert "CartesianProduct" not in plan


def test_shingle_containment_no_pairwise_join(spark, sf_dir):
    """q100 must never plan a doc-pair join — its whole point is being
    the corpus-linear alternative to pairwise substring comparison."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        q100_shingle_containment,
    )

    plan = formatted_plan(q100_shingle_containment(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only join is shingle-stats back onto (doc, shingle) — equi-join
    # keyed by shingle, no inequality condition anywhere
    assert "NestedLoop" not in plan


def test_lsh_neardup_no_cartesian(spark, sf_dir):
    """q96's candidate join must be an equi-join on band values (bucket
    join), never a cartesian/NLJ over the corpus."""
    from mapreduce_framework_simple_spark.operators.similarity import (
        q96_embed_neardup_lsh,
    )

    plan = formatted_plan(q96_embed_neardup_lsh(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_lm_count_tables_broadcast(spark, sf_dir):
    """q105's LM count tables are vocabulary-bounded — both joins back
    onto the exploded bigram stream must broadcast; the only corpus-sized
    shuffle is the final per-doc aggregation."""
    from mapreduce_framework_simple_spark.operators.text import q105_bigram_lm

    import re

    plan = formatted_plan(q105_bigram_lm(spark, sf_dir))
    join_lines = re.findall(r"^.*BroadcastHashJoin[^\n]*$", plan, re.M)
    assert len(join_lines) >= 2, "LM count join lost its broadcast"
    assert "SortMergeJoin" not in plan
    # round-12 regression guard (scoped to the join lines, ADVICE r12):
    # the LM tables (join RIGHT sides) must be the BUILD sides — the
    # unhinted plan used to broadcast the CORPUS bigram frame
    # (BuildLeft, its cache stat under the threshold) and probe a
    # corpus-sized hash relation (plans/r12/q105_bigram_lm_*.txt)
    for line in join_lines:
        assert "BuildLeft" not in line, (
            f"corpus side became the hash build side: {line.strip()}"
        )


def test_source_quota_group_limit_pushdown(spark, sf_dir):
    """q106's per-source K cut must plan as WindowGroupLimit (top-k rows
    held per group per map task before the shuffle), not a full sort of
    every source partition."""
    from mapreduce_framework_simple_spark.operators.sampling import q106_source_quota

    plan = formatted_plan(q106_source_quota(spark, sf_dir))
    assert "WindowGroupLimit" in plan, "per-source quota cut not pushed below sort"


def test_triangle_join_no_cartesian(spark, sf_dir):
    """q107's triangle enumeration is two equi-joins over oriented edges —
    never a cartesian/NLJ (the crossJoins in the plan combine three
    single-row aggregates, which is fine)."""
    from mapreduce_framework_simple_spark.operators.dedup import q107_dedup_triangles

    plan = formatted_plan(q107_dedup_triangles(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bloom_decontaminate_matches_exact_and_broadcasts(spark, sf_dir):
    """q108 = q91 exactly (Bloom has no false negatives; FPs die in the
    exact verify join), and its verify join must broadcast the probe."""
    from mapreduce_framework_simple_spark.operators.dedup import (
        q108_bloom_decontaminate,
        q91_decontamination,
    )

    a = q108_bloom_decontaminate(spark, sf_dir)
    b = q91_decontamination(spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert has_broadcast_join(a)


def test_centroid_assign_broadcasts_and_single_corpus_shuffle(spark, sf_dir):
    """q109's centroid table must broadcast for the assignment pass; the
    corpus itself shuffles only for the (label, pos) centroid build and
    the final tiny confusion aggregation."""
    from mapreduce_framework_simple_spark.operators.similarity import (
        q109_centroid_assign,
    )

    df = q109_centroid_assign(spark, sf_dir)
    # the centroid join is condition-less (every vector scores every
    # centroid), so its CORRECT broadcast form is BroadcastNestedLoopJoin
    # over the tiny centroid side — never an unbroadcast CartesianProduct
    assert has_broadcast_nlj(df)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_heavy_hitters_never_shuffles_token_stream(spark, sf_dir):
    """q110's whole point: the exploded token stream feeds the MG sketch
    and a broadcast semi-join — the only exchanges carry candidate words
    (≤ cap·partitions rows) and 1-row totals, never per-token rows. The
    plan must show the candidate join as broadcast, not sort-merge."""
    from mapreduce_framework_simple_spark.operators.text import q110_heavy_hitters

    plan = formatted_plan(q110_heavy_hitters(spark, sf_dir))
    assert "SortMergeJoin" not in plan, "token-side join planned as SMJ"
    assert "BroadcastHashJoin" in plan


def test_copurchase_lift_dim_joins_broadcast(spark, sf_dir):
    """q115's frequency tables and the 1-row order total must broadcast —
    the pair rollup never shuffles again for enrichment."""
    from mapreduce_framework_simple_spark.operators.relational import (
        q115_copurchase_lift,
    )

    df = q115_copurchase_lift(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_column_profile_single_scan(spark, sf_dir):
    """q116 computes all four column profiles in ONE pass over lineitem —
    the plan must contain exactly one parquet scan."""
    from mapreduce_framework_simple_spark.operators.relational import (
        q116_column_profile,
    )

    import re

    plan = formatted_plan(q116_column_profile(spark, sf_dir))
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 1, f"profile re-scans the table ({n_scans} scans)"


def test_q36_truth_kernel_pair_exchange_eliminated(spark, sf_dir):
    """Round-13 q36 rewrite: the shared shingle cache carries the per-doc
    shingle count ``n`` via a hash(doc_id) window, so once the cache is
    MATERIALIZED (finalized AQE stats) the naive kernel's pair
    aggregation and cnt aggregate both reuse the cache partitioning —
    the r12 plan's dominant pair exchange (hashpartitioning(doc_id,
    doc_id), 38.3 MiB / 1.25M rows at sf0.1) is GONE — and the self-join
    condition carries the length-ratio prefilter. The test materializes
    the cache first because the elision is state-dependent by design:
    planned against an UNMATERIALIZED cache (memo-warm fan-out probe,
    cold storage) the static planner keeps the pair exchange, which then
    carries the PREFILTERED stream — measured the cheaper trade than
    forcing materialization with an eager count (interleaved A/B at
    sf0.1: lazy 1.343 s vs eager 1.442 s min), so only the
    materialized-cache invariant is pinned here."""
    import re

    from mapreduce_framework_simple_spark.ephemeral import (
        release_caches,
        scoped_cache,
    )
    from mapreduce_framework_simple_spark.operators.dedup import (
        _with_doc_n,
        q36_ngram_jaccard,
        shingle_id_sets,
    )

    release_caches()
    spark.catalog.clearCache()
    try:
        # materialize the shared windowed cache exactly as q36 builds it;
        # q36's own scoped_cache then resolves to this finalized entry
        sh = scoped_cache(_with_doc_n(shingle_id_sets(spark, sf_dir)))
        sh.count()
        df = q36_ngram_jaccard(spark, sf_dir)
        df.toPandas()
        plan = formatted_plan(df)
        # the length-ratio prefilter sits in the self-join condition
        assert "least(n#" in plan and "greatest(n#" in plan, (
            "length-ratio prefilter missing from the pair join condition"
        )
        blocks = re.findall(
            r"^\(\d+\) Exchange\n(?:[^\n]+\n)*?Arguments: ([^\n]+)", plan, re.M
        )
        allowed = re.compile(
            r"hashpartitioning\(doc_id#\d+L(?:, shingle#\d+)?, \d+\)"
        )
        for args_line in blocks:
            assert allowed.search(args_line), (
                f"unexpected exchange (pair shuffle regressed?): {args_line}"
            )
    finally:
        release_caches()
        spark.catalog.clearCache()


def test_q105_byte_gate_over_bound_unhinted_equal(spark, sf_dir, monkeypatch):
    """q105's LM broadcast hint is dispatched by rows AND bytes (round
    13, ADVICE r12: c_bg rows are several times wider than the ~30 B
    q07 rows the generic row bound was tuned on). Force the
    over-byte-bound branch and assert the hint is gone from the
    analyzed plan while the answer is row-identical — the dispatch may
    only ever change strategy, never results. The over-bound run takes
    the stats MISS path, which caches c_bg for the stats job: failing
    the gate must drop that cache again."""
    from mapreduce_framework_simple_spark import ephemeral
    from mapreduce_framework_simple_spark.operators import text as T
    from mapreduce_framework_simple_spark.operators.text import q105_bigram_lm

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    under = q105_bigram_lm(spark, sf_dir)
    assert "ResolvedHint" in analyzed(under), "under-bound branch lost its hint"
    hinted = under.toPandas().sort_values("doc_id")
    monkeypatch.setattr(T, "LM_BROADCAST_BYTES_BOUND", 0)
    ephemeral.clear_memo()
    n_handles0 = len(ephemeral._SCOPED)
    over = q105_bigram_lm(spark, sf_dir)
    assert "ResolvedHint" not in analyzed(over), "over-byte-bound kept the hint"
    unhinted = over.toPandas().sort_values("doc_id")
    assert hinted.reset_index(drop=True).equals(unhinted.reset_index(drop=True))
    held = [
        h for h in ephemeral._SCOPED[n_handles0:]
        if "c_bg" in h.columns
        and (h.storageLevel.useMemory or h.storageLevel.useDisk)
    ]
    assert held == [], "over-bound miss path left its c_bg cache registered"


def test_q105_lm_stats_width_counts_bytes(spark):
    """The LM byte gate sizes c_bg rows by the bigram's UTF-8 BYTES: a
    CJK bigram is 3 bytes per character, so a character count would
    understate the broadcast size about threefold."""
    from mapreduce_framework_simple_spark.ephemeral import release_caches
    from mapreduce_framework_simple_spark.operators.text import _lm_table_stats

    bgs = ["日本 語学", "中文 字符"]
    c_bg = spark.createDataFrame([(b, 1) for b in bgs], "bg string, c_bg long")
    try:
        n, w = _lm_table_stats(c_bg)
    finally:
        release_caches()
    assert n == 2
    assert w == sum(len(b.encode()) for b in bgs) / len(bgs)
    assert w > sum(len(b) for b in bgs) / len(bgs)


def test_q105_stats_memo_no_repeat_probe_and_miss_path_cache(spark, sf_dir):
    """q105's LM stats job runs once per memo_stat key: the
    memo-MISS path scoped-caches c_bg (the stats aggregation doubles as
    the cache materialization the main query then reuses), and memo
    HITS neither recompute nor register another cache handle — the
    steady-state plan stays the round-12 ReusedExchange shape, which an
    unconditional cache was measured to regress (A/B 0.878 → 1.090 s)."""
    from mapreduce_framework_simple_spark import ephemeral
    from mapreduce_framework_simple_spark.operators.text import q105_bigram_lm

    def lm_stats_entries():
        return [k for k in ephemeral._MEMO if k[0] == "lm_stats"]

    ephemeral.release_caches()
    spark.catalog.clearCache()
    ephemeral.clear_memo()
    try:
        n_handles0 = len(ephemeral._SCOPED)
        q105_bigram_lm(spark, sf_dir).count()
        assert len(lm_stats_entries()) == 1, "miss path must memoize the stats"
        n_handles1 = len(ephemeral._SCOPED)
        assert n_handles1 > n_handles0, "miss path must scoped-cache c_bg"
        q105_bigram_lm(spark, sf_dir).count()
        assert len(lm_stats_entries()) == 1, "hit path must not re-probe"
        # hit path registers only q105's own bg cache, no c_bg handle:
        # exactly as many new handles as the first call MINUS the
        # stats-path c_bg cache
        assert len(ephemeral._SCOPED) - n_handles1 == (n_handles1 - n_handles0) - 1, (
            "hit path registered an unexpected cache handle"
        )
    finally:
        ephemeral.release_caches()
        spark.catalog.clearCache()


def test_no_hand_built_size_probe_outside_size_gate():
    """Every size dispatch goes through ``ephemeral.size_gate``: no module
    of the package but ephemeral.py builds its own ``.limit(<expr> + 1)``
    probe, so the next dispatch has to call the gate."""
    import pathlib
    import re

    import mapreduce_framework_simple_spark as pkg

    probe = re.compile(r"\.limit\((?:[^()]|\([^()]*\))*\+\s*1\s*\)")
    for sample in ("df.limit(bound + 1)", "x.limit(\n    MAX_Q + 1\n)",
                   "df.limit(len(ids) + 1)"):
        assert probe.search(sample), sample
    root = pathlib.Path(pkg.__file__).parent
    assert probe.search((root / "ephemeral.py").read_text())
    offenders = [
        str(path.relative_to(root))
        for path in sorted(root.rglob("*.py"))
        if path != root / "ephemeral.py" and probe.search(path.read_text())
    ]
    assert not offenders, f"hand-built size probes in {offenders}"


def test_no_hot_bucket_comparison_outside_the_guard():
    """``dedup.cap_hot_buckets`` is the one place the engine compares a
    bucket population with ``LSH_MAX_BUCKET``. Outside it the package
    may read the cap only in the DuckDB oracles' mirror of that rule
    (``HAVING count(*) <= {LSH_MAX_BUCKET}``) and in the memo key of
    ``capped_corpus_bands``, so a second hand-built cap cannot appear."""
    import ast
    import pathlib

    import mapreduce_framework_simple_spark as pkg

    def offending_reads(tree):
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "cap_hot_buckets":
                allowed |= {id(n) for n in ast.walk(node)}
            elif isinstance(node, ast.FunctionDef) and node.name == "capped_corpus_bands":
                allowed |= {id(n) for t in ast.walk(node) if isinstance(t, ast.Tuple)
                            for n in ast.walk(t)}
            elif isinstance(node, ast.JoinedStr):
                for prev, part in zip(node.values, node.values[1:]):
                    if (isinstance(prev, ast.Constant)
                            and str(prev.value).endswith("count(*) <= ")):
                        allowed |= {id(n) for n in ast.walk(part)}
        return [node.lineno for node in ast.walk(tree)
                if (getattr(node, "id", None) == "LSH_MAX_BUCKET"
                    or getattr(node, "attr", None) == "LSH_MAX_BUCKET")
                and isinstance(node.ctx, ast.Load) and id(node) not in allowed]

    for sample in ("x = df.where(F.col('n') > LSH_MAX_BUCKET)",
                   "cap = D.LSH_MAX_BUCKET",
                   "q = f'WHERE n > {LSH_MAX_BUCKET}'"):
        assert offending_reads(ast.parse(sample)), sample
    assert not offending_reads(ast.parse(
        "q = f'HAVING count(*) <= {LSH_MAX_BUCKET}'"))
    root = pathlib.Path(pkg.__file__).parent
    offenders = {
        str(path.relative_to(root)): lines
        for path in sorted(root.rglob("*.py"))
        if (lines := offending_reads(ast.parse(path.read_text())))
    }
    assert not offenders, f"LSH_MAX_BUCKET read outside the guard: {offenders}"

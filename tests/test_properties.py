"""Property-based tests (hypothesis) for the pure-Python engine pieces
and cross-engine hash determinism invariants."""

from __future__ import annotations

import pickle

from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_framework_simple_spark.operators.mapreduce import create_assigned_data

elements = st.lists(st.integers(-1000, 1000), max_size=200)
chunk_counts = st.integers(1, 17)
methods = st.sampled_from(["element_sequential", "element_shuffle", "volume_uniform"])


@settings(max_examples=200, deadline=None)
@given(data=elements, n=chunk_counts, method=methods)
def test_chunking_preserves_multiset(data, n, method):
    """No element lost or duplicated by any strategy (≙ the reference's
    contract that assigned data covers the input, Simple.pm:34-146)."""
    chunks = create_assigned_data(data, n, method=method, seed=0)
    assert sorted(x for c in chunks for x in c) == sorted(data)


@settings(max_examples=200, deadline=None)
@given(data=elements, n=chunk_counts, method=methods)
def test_chunking_bounds(data, n, method):
    chunks = create_assigned_data(data, n, method=method, seed=0)
    assert len(chunks) <= n
    assert all(c for c in chunks)  # never emits empty chunks
    if data and method == "element_sequential":
        # round-robin: sizes differ by at most 1
        sizes = sorted(len(c) for c in chunks)
        assert sizes[-1] - sizes[0] <= 1


@settings(max_examples=50, deadline=None)
@given(data=st.lists(st.binary(max_size=500), min_size=8, max_size=64))
def test_volume_uniform_beats_sequential_on_skew(data):
    """Size balancing: volume_uniform's max-chunk byte load never exceeds
    (greedy bound) the largest element plus a balanced share."""
    n = 4
    chunks = create_assigned_data(data, n, method="volume_uniform")
    loads = [sum(len(pickle.dumps(x)) for x in c) for c in chunks]
    total = sum(loads)
    biggest = max(len(pickle.dumps(x)) for x in data)
    assert max(loads) <= total / n + biggest  # classic LPT-style bound


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=40), st.text(max_size=40))
def test_minhash_permutation_is_injective_enough(a, b):
    """The md5→60-bit shingle id used by q36-q38 collides only when the
    md5 prefixes collide — equal inputs map equal, ids stay 60-bit
    bounded. (Cross-engine parity of the REAL expressions is pinned by
    test_shingle_id_parity_across_engines below — this hypothesis case
    checks only the pure-Python reference semantics.)"""
    import hashlib

    def sid(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    if a == b:
        assert sid(a) == sid(b)
    else:
        # not a guarantee of inequality (collisions allowed), but the ids
        # must be stable and 60-bit bounded
        assert 0 <= sid(a) < 2**60 and 0 <= sid(b) < 2**60


def test_shingle_id_parity_across_engines(spark):
    """The ACTUAL shipped expressions — Spark's shingle_id_expr and
    DuckDB's DUCK_SHINGLE_ID — must agree with the Python md5-prefix
    reference on real strings. A width change in one (e.g. 16 nibbles,
    which overflows signed BIGINT) would break q36-q38 oracle parity;
    this pins all three to the same 60-bit value."""
    import hashlib

    import duckdb

    from mapreduce_framework_simple_spark.operators.dedup import (
        DUCK_SHINGLE_ID,
        shingle_id_expr,
    )

    shingles = [
        "the quick fox", "fox jumps over", "a b c", "", " ",
        "münchen straße ß", "日本 語 テスト", "x" * 120,
    ]
    want = {
        s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shingles
    }
    sdf = spark.createDataFrame([(s,) for s in shingles], "shingle string")
    got_spark = {
        r["shingle"]: r["sid"]
        for r in sdf.select("shingle", shingle_id_expr().alias("sid")).collect()
    }
    assert got_spark == want
    con = duckdb.connect()
    got_duck = dict(
        con.execute(
            f"SELECT shingle, {DUCK_SHINGLE_ID} FROM (SELECT unnest(?) AS shingle)",
            [shingles],
        ).fetchall()
    )
    assert got_duck == want


def test_block_pair_kernel_matches_bruteforce_property(spark, monkeypatch, tmp_path):
    """Property: the chunked block self-join kernel returns EXACTLY the
    brute-force all-pairs answer on randomized vector sets — guards the
    diagonal/off-diagonal orientation logic and the chunk boundaries
    (chunk size forced tiny so multi-chunk paths execute)."""
    import numpy as np
    import pandas as pd

    from mapreduce_framework_simple_spark.operators import similarity as S

    monkeypatch.setattr(S, "BLOCK_CHUNK_ROWS", 3)  # force multi-chunk paths
    rng = np.random.RandomState(11)
    n = 57  # not divisible by N_BLOCKS → ragged blocks
    mat = rng.randn(n, 8)
    sf = str(tmp_path)
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": [row.astype("float32") for row in mat],
    })
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf), f"{sf}/embeddings.parquet")

    got = S._block_pairs_cosine(spark, sf, threshold=-1.0).toPandas()
    got = got.sort_values(["vec_a", "vec_b"]).reset_index(drop=True)
    # brute force in numpy (float32→float64 like the kernel)
    m = mat.astype("float32").astype("float64")
    cos = (m @ m.T) / (np.linalg.norm(m, axis=1)[:, None] * np.linalg.norm(m, axis=1)[None, :])
    exp = [(a, b) for a in range(n) for b in range(a + 1, n)]
    assert len(got) == len(exp), "pair count mismatch"
    assert list(zip(got.vec_a, got.vec_b)) == exp
    exp_cos = np.array([cos[a, b] for a, b in exp])
    assert np.allclose(got.cos_raw.to_numpy(), exp_cos, atol=1e-9)


def test_heavy_hitters_exact_under_adversarial_layouts(spark):
    """The Misra-Gries candidate union must be a superset of the true
    heavy hitters under ANY partitioning, so the verified result equals
    the exact HAVING answer regardless of layout. Adversarial cases: a
    heavy word spread thin across many partitions (worst case for a
    per-partition sketch), skewed hash layouts, single partition, and
    seeded random corpora."""
    import random

    from pyspark.sql import functions as F

    from mapreduce_framework_simple_spark.operators.text import heavy_hitters

    def exact(words_df, k):
        n = words_df.count()
        return {
            (r["word"], r["cnt"])
            for r in words_df.groupBy("word")
            .agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") * k > F.lit(n))
            .collect()
        }

    cases = []
    # heavy word interleaved so every partition sees it diluted
    heavy_thin = (["hh"] * 400) + [f"w{i}" for i in range(300)] * 3
    random.Random(7).shuffle(heavy_thin)
    cases.append(heavy_thin)
    # exactly-at-threshold counts (boundary: strict > must hold)
    cases.append(["a"] * 10 + ["b"] * 9 + [f"u{i}" for i in range(81)])
    # seeded zipf-ish random corpora
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(200)]
        weights = [1.0 / (i + 1) for i in range(200)]
        cases.append(rng.choices(vocab, weights=weights, k=2000))

    for k, cap in ((10, 16), (30, 64)):
        for i, corpus in enumerate(cases):
            df = spark.createDataFrame([(w,) for w in corpus], ["word"])
            want = exact(df, k)  # partition-independent: computed once
            for parts in (1, 7, 32):
                words = df.repartition(parts)
                got = {
                    (r["word"], r["cnt"])
                    for r in heavy_hitters(words, k=k, cap=cap).collect()
                }
                assert got == want, (
                    f"case {i}, k={k}, cap={cap}, partitions={parts}"
                )


def test_sequential_fold_queries_layout_independent(spark, sf_dir):
    """The determinism stack's core claim: rows must not depend on the
    shuffle-partition count. Queries whose floats come from SEQUENTIAL
    folds over sorted arrays (q105/q122/q123/q125) and from exact-integer
    ratios (q121/q128), and the corpus family whose stages read cached
    shuffles (q30/q35/q36/q38/q40/q79/q89), must hash identically at 7
    partitions as at the session's per-core default — the partitioning
    must never leak into the rows or their values."""
    import __spark_entry__ as E
    from tests.oracle_harness import compare_frames, duck_connection

    names = [
        "q105_bigram_lm", "q121_trend_ols", "q122_token_entropy",
        "q123_naive_bayes_langid", "q125_decayed_engagement",
        "q128_ab_welch_t", "q30_word_count", "q35_dedup_exact",
        "q36_ngram_jaccard", "q38_minhash_lsh_pairs", "q40_cosine_topk",
        "q79_dedup_components", "q89_dedup_survivors",
    ]
    qs, oracles = E.queries(), E.oracle_sql()
    con = duck_connection(sf_dir)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        for name in names:
            sdf = qs[name](spark, sf_dir).toPandas()
            ddf = con.execute(oracles[name]).fetchdf()
            assert compare_frames(sdf, ddf) == [], f"{name} drifted at 7 partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        con.close()  # a leaked native connection pins parquet handles


def test_null_and_blank_text_cross_engine_consistent(spark, tmp_path):
    """Production crawls contain NULL/empty/whitespace-only documents;
    the testdata never does. Pin that the text/dedup operator family
    treats them IDENTICALLY in Spark and DuckDB: NULL text yields NULL
    token lists in both engines (not Spark's legacy -1 size), md5(NULL)
    groups nulls together in both, and every n>0 guard falls through to
    its zero branch the same way."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as E
    from tests.oracle_harness import compare_frames

    rows = [
        {"doc_id": 1, "text": None, "lang": "en", "source": "web", "n_chars": 0},
        {"doc_id": 2, "text": "", "lang": "en", "source": "web", "n_chars": 0},
        {"doc_id": 3, "text": "   ", "lang": "en", "source": "web", "n_chars": 3},
        {"doc_id": 4, "text": None, "lang": "de", "source": "web", "n_chars": 0},
        {"doc_id": 5, "text": "the quick brown fox jumps over the lazy dog",
         "lang": "en", "source": "web", "n_chars": 43},
        {"doc_id": 6, "text": "the quick brown fox jumps over the lazy dog",
         "lang": "en", "source": "news", "n_chars": 43},
    ]
    sf = tmp_path / "nullish"
    sf.mkdir()
    pd.DataFrame(rows).to_parquet(sf / "documents.parquet")

    qs, oracles = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    for name in ["q30_word_count", "q35_dedup_exact", "q36_ngram_jaccard",
                 "q38_minhash_lsh_pairs", "q63_word_count_pandas",
                 "q80_chunk_documents", "q97_repetition_score"]:
        sdf = qs[name](spark, str(sf)).toPandas()
        ddf = con.execute(oracles[name]).fetchdf()
        problems = compare_frames(sdf, ddf)
        assert problems == [], f"{name} diverges on null/blank text: {problems[:3]}"
    # sanity: the two identical docs deduped, null-text docs grouped
    dedup = qs["q35_dedup_exact"](spark, str(sf)).toPandas()
    assert (dedup["n_copies"] >= 2).sum() >= 2  # the twin pair + the null group


def test_unicode_lowercase_cross_engine_canary(spark):
    """Canary for the KNOWN cross-engine unicode divergences (KNOWN
    LIMITS #16): Spark's Java toLowerCase and DuckDB's utf8proc agree on
    accented Latin, ß, non-final Greek, Cyrillic, CJK, and emoji — and
    disagree on (a) Turkish dotted İ (combining-dot vs plain i) and
    (b) WORD-FINAL Greek Σ (Java applies the contextual Final_Sigma
    SpecialCasing rule → ς; utf8proc maps per-codepoint → σ; found
    round 9). If this set ever shifts (engine upgrade), the determinism
    story must be re-audited."""
    import duckdb

    from pyspark.sql import functions as F

    agree = ["Émile Zölå ÊTRE", "STRASSE ß", "ΣΟΦΙΑ σοφια", "日本語 テスト",
             "naïve Café", "ЛЕВ Толстой", "🎉 PARTY 🎉"]
    diverge = ["İstanbul DİYARBAKIR", "ΟΔΥΣΣΕΥΣ"]
    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(agree + diverge)], "i long, t string"
    )
    srows = {
        r["i"]: r["lo"]
        for r in sdf.select("i", F.lower(F.col("t")).alias("lo")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(agree):
        (lo,) = con.execute("SELECT lower(?)", [s]).fetchone()
        assert srows[i] == lo, f"agreement class broke: {s!r}"
    for j, s in enumerate(diverge):
        (lo,) = con.execute("SELECT lower(?)", [s]).fetchone()
        assert srows[len(agree) + j] != lo, (
            f"divergence class healed: {s!r} — update KNOWN_LIMITS #16"
        )


def test_money_aggregates_partition_order_independent(spark, sf_dir):
    """The exact-cents discipline's core claim: every hashed money
    aggregate must match its oracle bit-for-bit even when the scan is
    split many ways (tiny maxPartitionBytes) and the shuffle uses a
    different partition count — float sums would drift at the last ULPs
    under any such reordering (observed live: unhinting q05's broadcast
    flipped its old float revenue by 1 ULP)."""
    import __spark_entry__ as E
    from tests.oracle_harness import compare_frames, duck_connection

    names = [
        "q01_pricing_summary", "q03_top_revenue", "q05_join_chain",
        "q06_forecast_revenue", "q07_broadcast_brand", "q11_cube",
        "q23_agg_stats", "q28_scalar_subquery", "q50_tumbling_window",
        "q51_sliding_window", "q56_having", "q59_corr_covar",
    ]
    qs, oracles = E.queries(), E.oracle_sql()
    con = duck_connection(sf_dir)
    before_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        for name in names:
            sdf = qs[name](spark, sf_dir).toPandas()
            ddf = con.execute(oracles[name]).fetchdf()
            assert compare_frames(sdf, ddf) == [], f"{name} drifted under split scan"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before_bytes)
        spark.conf.set("spark.sql.shuffle.partitions", before_parts)
        con.close()  # a leaked native connection pins parquet handles


def test_prime_kernel_both_paths_match_trial_division(spark):
    """q61's round-12 segmented-sieve kernel: the dense (contiguous-span)
    path and the sparse blocked-outer-mod fallback must both reproduce
    plain trial division — including the edge classes the sieve start
    bound protects (n < 2, small primes, squares of primes, a prime that
    IS a base-sieve prime, and a large known prime)."""
    from mapreduce_framework_simple_spark.functions.udfs import (
        prime_predicate_udf,
    )

    def truth(n: int) -> bool:
        if n < 2:
            return False
        d = 2
        while d * d <= n:
            if n % d == 0:
                return False
            d += 1
        return True

    is_prime = prime_predicate_udf()

    # dense path: one contiguous block (span == rows per batch) that
    # straddles 0/1/2, prime squares (4, 9, 25, ...) and small primes
    dense = spark.range(0, 3000).withColumnRenamed("id", "n")
    got = {r["n"]: r["p"] for r in
           dense.select("n", is_prime("n").alias("p")).collect()}
    assert all(got[v] == truth(v) for v in range(0, 3000))

    # sparse path: span >> 8·rows + 1024 in a single partition forces the
    # blocked outer-mod fallback; 999999937 is a known prime, 961 = 31²
    sparse_vals = [0, 1, 2, 3, 4, 25, 49, 97, 961, 10_007,
                   1_000_003, 999_999_937]
    sparse = spark.createDataFrame(
        [(v,) for v in sparse_vals], "n long"
    ).repartition(1)
    got = {r["n"]: r["p"] for r in
           sparse.select("n", is_prime("n").alias("p")).collect()}
    assert all(got[v] == truth(v) for v in sparse_vals)

    # all-sub-2 batch (including negatives): must be all-False, not a
    # math.isqrt(hi<0) crash — the guard the code-review pass added
    neg = spark.createDataFrame(
        [(v,) for v in (-7, -1, 0, 1)], "n long"
    ).repartition(1)
    got = [r["p"] for r in neg.select(is_prime("n").alias("p")).collect()]
    assert got == [False, False, False, False]

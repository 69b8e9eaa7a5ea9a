"""Text-analysis operators over the ``documents`` table.

Word count is the reference's own motivating use case (Simple.pm:612,
README.md:94: "you can implement word count ... by MapReduce::Framework::
Simple"); everything else is the LLM-data-pipeline extension set
(language-ID, quality scoring, token counting, fingerprinting) required
by the north star.

All operators are pure JVM column expressions (split/filter/transform/
aggregate higher-order functions) — no Python in the hot path, so they
whole-stage-codegen and scale linearly with executors. Tokenization is
shared via :func:`tokens_expr` so every operator (and every DuckDB oracle)
agrees on the same token stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_simple_spark.ephemeral import memo_stat, scoped_cache
from mapreduce_framework_simple_spark.registry import query
from mapreduce_framework_simple_spark.sources.io import load_table

# THE engine-parity whitespace class, shared by every regex that must
# agree across Spark and DuckDB: Java's \s is [ \t\n\x0B\f\r] but
# DuckDB's RE2 \s omits vertical tab U+000B, so \s itself is not
# portable. ONE constant feeds tokens_expr, DUCK_TOKS, and dedup's
# normalization (dedup._WS_CLASS): independent literal copies once let
# the classes drift, splitting duplicate groups with the SAME wrong
# value in both engines — an oracle-invisible bug class.
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]+"


# Canonical tokenization: lower, trim, split on whitespace runs, drop
# empties. DuckDB twin: DUCK_TOKS below (same explicit class).
def tokens_expr(col: str = "text") -> Column:
    # WS_CLASS keeps the two engines' tokenizations identical (see its
    # definition above); built from the shared constant so it cannot
    # drift from DUCK_TOKS or dedup's normalization class
    return F.filter(
        F.split(F.lower(F.trim(F.col(col))), WS_CLASS),
        lambda t: t != "",
    )


# Word-3-gram shingles (the dedup unit). Guarded: <3 tokens → empty array
# (Spark sequence() would generate a DESCENDING range for stop<start,
# silently producing garbage shingles — hence the explicit when()).
def shingles_expr(toks: Column) -> Column:
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2), F.element_at(toks, i + 3)
        ),
    )
    return F.when(F.size(toks) >= 3, grams).otherwise(
        F.array().cast("array<string>")
    )


DUCK_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), "
    f"'{WS_CLASS}'), t -> t <> '')"
)
DUCK_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) "
    "ELSE [] END"
)


def bigrams_expr(toks: Column) -> Column:
    """Adjacent token pairs as ``"w1 w2"`` strings; <2 tokens → empty.
    The ONE bigram definition (q97/q105 both call it — a banding change
    here cannot diverge between callers). DuckDB twin: ``DUCK_BIGRAMS``
    / ``list_transform(range(1, len(toks)), i -> toks[i] || ' ' ||
    toks[i+1])`` (1-indexed, end-exclusive)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    return F.when(F.size(toks) >= 2, grams).otherwise(F.array().cast("array<string>"))


DUCK_BIGRAMS = (
    "CASE WHEN len(toks) >= 2 THEN "
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) "
    "ELSE [] END"
)


@query(
    "q30_word_count",
    oracle=f"""
    WITH toks AS (SELECT {DUCK_TOKS} AS toks FROM documents),
    words AS (SELECT unnest(toks) AS word FROM toks)
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM words GROUP BY word
    """,
)
def q30_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic word count (≙ the reference's flagship use case, Simple.pm:612).

    Scale: explode happens map-side and feeds partial counts into the
    shuffle — the exchange carries one row per distinct word per partition,
    not one per token occurrence."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(tokens_expr()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "q31_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {DUCK_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT)  AS n_tokens,
           CAST(length(text) AS INT) AS n_chars_calc,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS avg_token_len,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_word_pieces
    FROM t
    """,
)
def q31_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting: whitespace tokens + a BPE-ish
    regex-piece count (`[a-z0-9]+` maximal runs)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens_expr()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
        # try_divide, not /: an empty/whitespace-only doc has 0 tokens,
        # and ANSI mode (Spark 4 default) aborts the whole query on x/0
        # while the DuckDB oracle yields NULL — try_divide IS that NULL
        F.try_divide(
            # long accumulator (the q98 discipline): an int fold
            # overflows — and under ANSI mode aborts the query — on a
            # document whose total token length exceeds 2^31, where the
            # oracle's list_sum (HUGEINT) just returns the value
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).cast("double"),
            F.size(toks),
        ).alias("avg_token_len"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)).alias(
            "n_word_pieces"
        ),
    )


STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")

# interpolated into the q32/q98 oracles so editing STOPWORDS retunes
# Spark AND DuckDB together (the _duck_marker discipline)
_DUCK_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS)


def _duck_fixed_avg(expr: str) -> str:
    """Fixed-point average: exact integer pico-unit (1e-12) sums in
    HUGEINT, one double conversion at the end — deterministic under any
    partitioning AND scalable (no per-group collection; the sorted-fold
    alternative materializes a group-sized array, fine for per-doc token
    arrays but unbounded for per-language document groups)."""
    return (
        f"CAST(sum(CAST(round({expr} * 1e12) AS HUGEINT)) AS DOUBLE)"
        f" / (1e12 * count({expr}))"
    )


@query(
    "q32_quality_score",
    oracle=f"""
    WITH t AS (SELECT *, {DUCK_TOKS} AS toks FROM documents),
    r AS (SELECT doc_id, lang,
                 CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                   / length(text) AS alpha_r,
                 CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
                   / length(text) AS space_r,
                 CAST(len(list_filter(toks, x -> x IN ({_DUCK_STOPS}))) AS DOUBLE)
                   / len(toks) AS stop_r,
                 length(text) AS tlen
          FROM t)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           {_duck_fixed_avg('alpha_r')} AS avg_alpha_ratio,
           {_duck_fixed_avg('space_r')} AS avg_space_ratio,
           {_duck_fixed_avg('stop_r')} AS avg_stopword_ratio,
           CAST(sum(tlen) AS DOUBLE) / count(tlen) AS avg_len
    FROM r GROUP BY lang
    """,
)
def q32_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics (alpha/space/stopword ratios) averaged
    per language — the filter-before-training signal set.

    Determinism: each per-doc ratio is an exact int/int division; the
    per-language average sums exact integer PICO-UNITS (round(r·1e12),
    decimal/HUGEINT) and divides once — a plain avg() sums partial
    aggregates in partition order and is bit-identical to the oracle
    only while the scan is one split, and a doc_id-sorted fold would
    materialize a per-language array (unbounded at scale). The ≤5e-13
    quantization is identical in both engines. avg_len sums exact
    integers, so plain division is safe."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens_expr()
    text_len = F.length("text")
    # try_divide throughout: empty text (length 0) / zero-token docs
    # would abort the query under ANSI mode (Spark 4 default), while the
    # DuckDB oracle's plain / yields NULL — try_divide matches that, and
    # fixed_avg's null-skipping sum/count then drops the row exactly
    # like the oracle does
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")).cast(
            "double"
        ),
        text_len,
    )
    space_ratio = F.try_divide(
        (text_len - F.length(F.regexp_replace(F.col("text"), " ", ""))).cast(
            "double"
        ),
        text_len,
    )
    stop_ratio = F.try_divide(
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double"),
        F.size(toks),
    )
    r = docs.select(
        "doc_id",
        "lang",
        alpha_ratio.alias("alpha_r"),
        space_ratio.alias("space_r"),
        stop_ratio.alias("stop_r"),
        text_len.alias("tlen"),
    )

    def fixed_avg(col: str) -> Column:
        # sum() and count() both skip nulls, mirroring the oracle's
        # null-skipping sum/count semantics for NULL/empty-text docs;
        # try_divide: a group whose every doc is NULL-ratio has count 0
        return F.try_divide(
            F.sum(F.round(F.col(col) * 1e12).cast("decimal(38,0)")).cast("double"),
            1e12 * F.count(F.col(col)),
        )

    return r.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        fixed_avg("alpha_r").alias("avg_alpha_ratio"),
        fixed_avg("space_r").alias("avg_space_ratio"),
        fixed_avg("stop_r").alias("avg_stopword_ratio"),
        F.try_divide(F.sum("tlen").cast("double"), F.count("tlen")).alias(
            "avg_len"
        ),
    )


# Marker-word profiles for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "y", "que", "los"),
    "fr": ("le", "les", "et", "une", "est"),
}

def _duck_marker(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(toks, x -> x IN ({lst})))"

@query(
    "q33_lang_id",
    oracle=f"""
    WITH t AS (SELECT *, {DUCK_TOKS} AS toks FROM documents),
    s AS (SELECT lang, {_duck_marker('en')} AS s_en, {_duck_marker('de')} AS s_de,
                 {_duck_marker('es')} AS s_es, {_duck_marker('fr')} AS s_fr
          FROM t)
    SELECT lang,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1, 2
    """,
)
def q33_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic; confusion matrix (lang ×
    pred_lang) as output. Deterministic tie-break by fixed lang order."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens_expr()
    def marker_score(markers: tuple[str, ...]) -> Column:
        # single-arg lambda factory: a 2-arg lambda would be interpreted
        # by PySpark as (element, index)
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    scores = {lang: marker_score(markers) for lang, markers in LANG_MARKERS.items()}
    pred = (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["de"] >= scores["es"]) & (scores["de"] >= scores["fr"]), "de")
        .when(scores["es"] >= scores["fr"], "es")
        .otherwise("fr")
    )
    return docs.groupBy("lang", pred.alias("pred_lang")).agg(
        F.count("*").alias("n_docs")
    )


@query(
    "q34_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, lower(trim(text)) AS txt FROM documents)
    SELECT doc_id,
           list_min(list_transform(range(1, greatest(length(txt) - 7, 1) + 1),
                                   i -> md5(substr(txt, i, 8)))) AS fingerprint
    FROM t
    """,
)
def q34_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: minimum hash over all char
    8-grams (md5 hex compared lexicographically — a deterministic "rolling
    hash" both engines share). Texts shorter than 8 chars hash whole.

    The minimum is an ``F.aggregate`` fold of ``least(acc, md5(gram))``
    — O(1) extra memory per row. The earlier transform+array_min
    materialized the full per-row md5 ARRAY first (~32 bytes per text
    character — 32 MB transient for a 1 MB document) just to take its
    min; ``least`` skips the NULL init, so the fold needs no sentinel.
    ``txt`` is projected BEFORE the lambda (no subexpression elimination
    inside lambdas — the q105 discipline), so lower(trim()) runs once
    per row, not once per gram."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select("doc_id", F.lower(F.trim(F.col("text"))).alias("txt"))
    fp = F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length("txt") - 7, F.lit(1))),
        F.lit(None).cast("string"),
        lambda acc, i: F.least(acc, F.md5(F.col("txt").substr(i, F.lit(8)))),
    )
    return t.select("doc_id", fp.alias("fingerprint"))


@query(
    "q69_bigrams",
    oracle=f"""
    WITH t AS (SELECT {DUCK_TOKS} AS toks FROM documents),
    b AS (SELECT unnest({DUCK_BIGRAMS}) AS bigram
          FROM t)
    SELECT * FROM (
        SELECT bigram, CAST(count(*) AS BIGINT) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, bigram) AS rnk
        FROM b GROUP BY bigram
    ) WHERE rnk <= 100
    """,
)
def q69_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 word bigrams (n-gram frequency analysis; deterministic
    tie-break by bigram text). Uses the ONE bigram definition
    (bigrams_expr / DUCK_BIGRAMS — the q97/q105 discipline) with the
    same materialize-before-lambda care as shingling."""
    docs = load_table(spark, "documents", sf_dir)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        docs.select(tokens_expr().alias("toks"))
        .select(F.explode(bigrams_expr(F.col("toks"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 100)
    )


@query(
    "q86_tfidf_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({DUCK_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfr.df_t,
             CAST(tf.tf * n.n_docs AS DOUBLE) / dfr.df_t AS score
      FROM tf JOIN dfr USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df_t, score, rnk FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q86_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF, using the
    log-free rarity weight ``tf · N / df``: every arithmetic step is an
    exactly-rounded IEEE op on integers, so Spark and DuckDB rank
    bit-identically (ln() differs across libm implementations at the ULP
    and could flip ranks at near-ties; N/df preserves the classic IDF
    ordering for ranking since N is constant). Ties break on term text.

    Scale: two shuffles (doc-term TF, then term DF) + a 1-row broadcast
    for N; both aggregations partial-combine map-side. The doc-term join
    back is on `term` — skewed stopword terms are exactly what AQE
    skew-join splitting handles; rank is per-document (WindowGroupLimit
    keeps 3 rows per doc)."""
    docs = load_table(spark, "documents", sf_dir)
    terms = docs.select("doc_id", F.explode(tokens_expr()).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfr = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n = docs.agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(dfr, "term")
        .join(F.broadcast(n))
        .withColumn("score", (F.col("tf") * F.col("n_docs")) / F.col("df_t"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df_t", "score", F.col("rnk").cast("bigint").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Gopher-style filtering / repetition / lexical-diversity operators
# (training-data curation extensions; all integer-ratio math, so every
# engine computes bit-identical scores)
# ---------------------------------------------------------------------------

@query(
    "q97_repetition_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    b AS (SELECT doc_id, toks, {DUCK_BIGRAMS} AS bgs FROM t)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CASE WHEN len(toks) > 0 THEN
             CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks)
           ELSE 0.0 END                             AS dup_token_frac,
           CAST(len(bgs) AS BIGINT)                 AS n_bigrams,
           CAST(len(list_distinct(bgs)) AS BIGINT)  AS n_distinct_bigrams,
           CASE WHEN len(bgs) > 0 THEN
             CAST(len(bgs) - len(list_distinct(bgs)) AS DOUBLE) / len(bgs)
           ELSE 0.0 END                             AS dup_bigram_frac
    FROM b
    """,
)
def q97_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (the Gopher/MassiveText "repetition"
    filter family): fraction of duplicate tokens and duplicate word
    bigrams per document. High duplicate-n-gram fractions are the
    canonical signal for boilerplate/spam in pre-training corpora.

    Every score is (int − int) / int on counts — exactly-rounded IEEE
    division of identical integers in both engines.

    Scale: pure map-side column expressions (no explode, no shuffle —
    the distinct runs inside each row's array); whole-stage codegen, one
    pass over the corpus. Arrays are materialized before the distinct
    (lambda bodies get no subexpression elimination)."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select("doc_id", tokens_expr().alias("toks"))
    b = t.select("doc_id", "toks", bigrams_expr(F.col("toks")).alias("bgs"))
    n_t, nd_t = F.size("toks"), F.size(F.array_distinct("toks"))
    n_b, nd_b = F.size("bgs"), F.size(F.array_distinct("bgs"))
    return b.select(
        "doc_id",
        n_t.cast("long").alias("n_tokens"),
        nd_t.cast("long").alias("n_distinct_tokens"),
        F.when(n_t > 0, (n_t - nd_t).cast("double") / n_t)
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
        n_b.cast("long").alias("n_bigrams"),
        nd_b.cast("long").alias("n_distinct_bigrams"),
        F.when(n_b > 0, (n_b - nd_b).cast("double") / n_b)
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


# Gopher-rule thresholds (integer-scaled so the keep decision is an
# integer comparison — no float thresholds to drift cross-engine):
#   3 ≤ mean word length ≤ 10   ⇔  3·n ≤ Σlen ≤ 10·n
#   ≥ 2 stopword hits
#   top word ≤ 20% of tokens    ⇔  5·top_cnt ≤ n
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3, 10
GOPHER_MIN_STOP_HITS = 2
GOPHER_TOP_WORD_DENOM = 5


@query(
    "q98_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      coalesce({DUCK_TOKS}, CAST([] AS VARCHAR[])) AS toks
               FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS word FROM t),
    topw AS (SELECT doc_id, max(cnt) AS top_cnt
             FROM (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2)
             GROUP BY doc_id),
    base AS (SELECT doc_id,
                    CAST(len(toks) AS BIGINT) AS n_tokens,
                    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                         AS BIGINT) AS sum_token_len,
                    CAST(len(list_filter(toks,
                      x -> x IN ({_DUCK_STOPS}))) AS BIGINT)
                      AS stop_hits
             FROM t)
    SELECT base.doc_id, n_tokens, sum_token_len, stop_hits,
           CAST(coalesce(top_cnt, 0) AS BIGINT) AS top_word_cnt,
           (sum_token_len >= {GOPHER_MIN_MWL} * n_tokens AND
            sum_token_len <= {GOPHER_MAX_MWL} * n_tokens AND
            stop_hits >= {GOPHER_MIN_STOP_HITS} AND
            {GOPHER_TOP_WORD_DENOM} * coalesce(top_cnt, 0) <= n_tokens) AS keep
    FROM base LEFT JOIN topw ON base.doc_id = topw.doc_id
    """,
)
def q98_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`gopher_flags` of ``documents``: doc id, statistics, keep."""
    return gopher_flags(load_table(spark, "documents", sf_dir)).select(
        "doc_id", "n_tokens", "sum_token_len", "stop_hits", "top_word_cnt", "keep"
    )


def gopher_flags(docs: DataFrame) -> DataFrame:
    """Gopher-style quality gate: mean-word-length bounds, minimum
    stopword evidence, and a top-word concentration cap combine into one
    boolean ``keep`` per document. Thresholds are integer-scaled
    (3·n ≤ Σlen, 5·top ≤ n) so the decision never touches a float.

    Scale: the per-doc stats are map-side array ops; the only shuffle is
    the (doc, word) count feeding the top-word cap — partial-aggregated,
    keyed by doc_id, trivially parallel. This is the shape of every
    production quality gate: one corpus pass, one bounded shuffle.

    Contract: ONE keep row per document, including empty/whitespace/NULL
    text (zero tokens ⇒ keep=false via the stopword floor) — the
    top-word side is a LEFT join, so zero-token docs are gated, never
    silently dropped from both buckets. ``docs`` is any frame with
    ``doc_id`` and ``text``; its columns pass through, ahead of the stats."""
    t = docs.select(
        "*",
        F.coalesce(tokens_expr(), F.array().cast("array<string>")).alias("toks"),
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    base = t.select(
        *docs.columns,
        F.size("toks").cast("long").alias("n_tokens"),
        F.aggregate("toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        .alias("sum_token_len"),
        F.size(F.filter("toks", lambda x: F.array_contains(stop_arr, x)))
        .cast("long")
        .alias("stop_hits"),
    )
    topw = (
        t.select("doc_id", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_word_cnt"))
    )
    j = base.join(topw, "doc_id", "left").withColumn(
        "top_word_cnt", F.coalesce(F.col("top_word_cnt"), F.lit(0))
    )
    keep = (
        (F.col("sum_token_len") >= GOPHER_MIN_MWL * F.col("n_tokens"))
        & (F.col("sum_token_len") <= GOPHER_MAX_MWL * F.col("n_tokens"))
        & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS)
        & (GOPHER_TOP_WORD_DENOM * F.col("top_word_cnt") <= F.col("n_tokens"))
    )
    return j.select(
        *docs.columns, "n_tokens", "sum_token_len", "stop_hits",
        F.col("top_word_cnt").cast("long").alias("top_word_cnt"),
        keep.alias("keep"),
    )


@query(
    "q99_type_token_ratio",
    oracle=f"""
    WITH t AS (SELECT source, {DUCK_TOKS} AS toks FROM documents),
    w AS (SELECT source, unnest(toks) AS word FROM t)
    SELECT source,
           CAST(count(*) AS BIGINT)              AS total_tokens,
           CAST(count(DISTINCT word) AS BIGINT)  AS distinct_words,
           CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS type_token_ratio
    FROM w GROUP BY source
    """,
)
def q99_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio (distinct words /
    total tokens) — the standard corpus-level diversity diagnostic for
    dataset mixing decisions. Exact integer division in both engines.

    Scale: explode feeds partial counts map-side; the distinct-count is
    the expand-based two-phase count_distinct, partial-aggregated on
    (source, word) before the final source-level merge — one logical
    shuffle keyed by a low-cardinality column, no row-per-token ever
    crosses the wire."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select("source", F.explode(tokens_expr()).alias("word"))
    return words.groupBy("source").agg(
        F.count("*").alias("total_tokens"),
        F.count_distinct("word").alias("distinct_words"),
        (F.count_distinct("word").cast("double") / F.count("*")).alias(
            "type_token_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (library operator; no oracle — DuckDB and Java regex
# dialects differ, so cross-engine hashing would test the regex engines,
# not the operator. Verified by tests on planted PII.)
# ---------------------------------------------------------------------------

# Domain = dotted labels; the final TLD label must be uniformly-cased
# ([a-z]{2,} or [A-Z]{2,}) and not run into another letter. A mixed-case
# token after a no-space sentence period ("a@b.com.Thanks for...") thus
# fails the TLD and the match backtracks to "a@b.com" instead of eating
# the following prose (which the old [A-Za-z0-9.-]+ domain did, silently
# corrupting non-PII text).
PII_EMAIL = (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*"
             r"\.(?:[a-z]{2,}|[A-Z]{2,})(?![A-Za-z])")
PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
PII_REPLACEMENT = "[PII]"


def scrub_pii(df: DataFrame, col: str = "text",
              replacement: str = PII_REPLACEMENT) -> DataFrame:
    """Redact emails and phone numbers from a text column, adding an
    ``n_pii`` count of redacted spans. Pure JVM regexp ops (no Python in
    the path); patterns are deliberately conservative — production
    pipelines layer jurisdiction-specific pattern packs on this hook.

    Scale: map-side narrow transform, codegen-friendly, zero shuffle."""
    after_email = F.regexp_replace(F.col(col), PII_EMAIL, replacement)
    # phones are counted on the email-redacted text, so a phone-looking
    # span INSIDE an email local-part is not double-counted — n_pii
    # always equals the number of redacted spans. NULL text must yield
    # n_pii = 0, not NULL: a downstream keep-clean gate like
    # ``where(n_pii == 0)`` would otherwise silently drop NULL-text rows
    # (NULL == 0 is not true) and PII accounting would stop summing to
    # the corpus size.
    n = F.coalesce(
        F.size(F.regexp_extract_all(F.col(col), F.lit(PII_EMAIL), 0))
        + F.size(F.regexp_extract_all(after_email, F.lit(PII_PHONE), 0)),
        F.lit(0),
    )
    scrubbed = F.regexp_replace(after_email, PII_PHONE, replacement)
    return df.withColumn("n_pii", n.cast("int")).withColumn(col, scrubbed)


# ---------------------------------------------------------------------------
# Corpus bigram language model (CCNet-style perplexity signal)
# ---------------------------------------------------------------------------

# Byte-aware broadcast gate for the LM count tables (q105). The generic
# DIM_BROADCAST_ROW_BOUND is calibrated on ~30 B q07 part rows (1M rows
# ≈ 30 MB < the 64 MB session threshold); c_bg rows carry a bigram
# STRING plus a count and build into a JVM hash relation at roughly
# string bytes + per-row overhead (UnsafeRow header/offsets, the count
# long, hash-table slots — ~48 B), so the hint additionally requires
# rows × (avg UTF-8 byte width + overhead) under 48 MB — headroom below the 64 MB
# threshold because the estimate is an average, not a max.
LM_ROW_OVERHEAD_B = 48
LM_BROADCAST_BYTES_BOUND = 48 * 1024 * 1024


def _lm_table_stats(c_bg: DataFrame) -> tuple[int, float]:
    """(row count, avg bigram width in BYTES) of the c_bg frame. The
    frame is scoped-cached first, so the ONE aggregation job doubles as
    the cache-populating action and the main query's consumers reuse
    its rows — the broadcast dispatch adds no corpus pass beyond the
    aggregation the query needs anyway. q105 memoizes the result
    (ephemeral.memo_stat), so on memo HITS nothing runs and nothing is
    cached. A limit-probe is wrong for this frame: LocalLimit caps scan
    partitions only, so over an AGG-derived frame it would execute the
    full corpus-wide bigram groupBy and discard the rows."""
    row = scoped_cache(c_bg).agg(
        F.count("*").alias("n"),
        F.coalesce(F.avg(F.octet_length("bg")), F.lit(0.0)).alias("w"),
    ).collect()[0]
    return int(row["n"]), float(row["w"])


@query(
    "q105_bigram_lm",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1])) AS bg
           FROM t WHERE len(toks) >= 2),
    cb AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY bg),
    cw AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_w1
           FROM cb GROUP BY 1),
    scored AS (SELECT b.doc_id, ln(CAST(cb.c_bg AS DOUBLE) / cw.c_w1) AS lp
               FROM bg b
               JOIN cb ON b.bg = cb.bg
               JOIN cw ON split_part(b.bg, ' ', 1) = cw.w1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-(list_reduce(list_prepend(0.0, list(lp ORDER BY lp)),
                               (a, b) -> a + b)
                   / count(*)), 6) AS cross_entropy
    FROM scored GROUP BY doc_id
    """,
)
def q105_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a bigram LM estimated from the
    corpus itself — the CCNet/KenLM-style fluency signal used to rank
    training documents by "how surprising is this text given the corpus"
    (high cross-entropy ⇒ atypical/noisy doc). MLE estimates, no
    smoothing: every document bigram occurs in the corpus (it contributed
    to the counts), so P(w2|w1) = C(w1 w2) / C(w1·) is always positive.

    Scale: the LM tables are vocabulary-bounded (Zipf), orders of
    magnitude smaller than the corpus, CACHED (the dispatch-stats job
    doubles as the cache materialization — no corpus pass is ever spent
    on dispatch alone), and SIZE-DISPATCH broadcast by rows AND bytes
    (:func:`_lm_table_stats`; an over-bound vocabulary leaves the joins
    unhinted; see the in-body note for the measured plan that retired
    the fully-unhinted policy); the only corpus-sized shuffle is the final
    per-doc aggregation on doc_id. The per-doc mean is a sequential
    fold over the SORTED ln() terms (see the in-body note) and rounds
    to 6 dp before hashing."""
    docs = load_table(spark, "documents", sf_dir)
    # tokens materialized BEFORE the bigram lambda — inlining tokens_expr
    # into bigrams_expr would re-split the text once per element_at
    # (no subexpression elimination inside lambdas; measured 12.7s → 0.6s
    # at sf0.1, same trap shingle_sets documents)
    # cached: bg feeds BOTH the LM-count aggregation subtree and the
    # probe side of the scoring join — Spark reuses exchanges, not
    # scans, so without the cache the dominant tokenize+explode pass
    # over the corpus runs twice (the same reuse q110 documents for its
    # words frame and q123 for dwc)
    bg = scoped_cache(
        docs.select("doc_id", tokens_expr().alias("toks")).select(
            "doc_id", F.explode(bigrams_expr(F.col("toks"))).alias("bg")
        )
    )
    # c_bg is cached on the stats MISS path only (_lm_table_stats): the
    # stats job doubles as the query's own c_bg materialization. On memo
    # HITS nothing is cached: the plain agg's exchange is computed once
    # and reused (ReusedExchange) — an unconditional cache was MEASURED
    # WORSE at steady state (interleaved A/B at sf0.1: 0.878 s plain vs
    # 1.090 s cached min).
    c_bg = bg.groupBy("bg").agg(F.count("*").alias("c_bg"))
    c_w1 = c_bg.groupBy(
        F.substring_index("bg", " ", 1).alias("w1")
    ).agg(F.sum("c_bg").alias("c_w1"))
    # LM-table hint policy: unhinted, the static planner committed to
    # BuildLeft with the CORPUS-side bigram frame as the broadcast/build
    # side (plans/r12/q105_bigram_lm_before.txt — its cache statistic
    # sits under the 64 MB threshold) before AQE ever saw the 931-row LM
    # table, so every probe walked a corpus-sized hash relation. The
    # hint is SIZE-DISPATCHED on exact stats of c_bg, and pins c_bg/c_w1
    # as build sides only when the vocabulary is provably small BY
    # BYTES, not just rows: c_bg rows carry a bigram string, several
    # times wider than the ~30 B q07 part rows that justified
    # DIM_BROADCAST_ROW_BOUND, so a near-bound vocabulary would pass a
    # row-only gate yet broadcast well past the 64 MB threshold
    # (F.broadcast is honored at ANY size). c_w1 ≤ c_bg in both rows and
    # bytes by construction, so one gate bounds both; an over-bound
    # vocabulary leaves the joins unhinted — the safe direction — and
    # drops the miss path's c_bg cache, which would otherwise pin a
    # corpus-scale table in executor storage for the whole query.
    from mapreduce_framework_simple_spark.operators.relational import (
        DIM_BROADCAST_ROW_BOUND,
    )

    n_bg, avg_w = memo_stat("lm_stats", c_bg, sf_dir,
                            lambda: _lm_table_stats(c_bg))
    if (
        n_bg <= DIM_BROADCAST_ROW_BOUND
        and n_bg * (avg_w + LM_ROW_OVERHEAD_B) <= LM_BROADCAST_BYTES_BOUND
    ):
        c_bg, c_w1 = F.broadcast(c_bg), F.broadcast(c_w1)
    else:
        c_bg.unpersist(blocking=False)  # no-op on the hit path
    scored = (
        bg.join(c_bg, "bg")
        .join(
            c_w1,
            F.substring_index(F.col("bg"), " ", 1) == F.col("w1"),
        )
        .select(
            "doc_id",
            F.log(F.col("c_bg").cast("double") / F.col("c_w1")).alias("lp"),
        )
    )
    # per-doc mean via a SEQUENTIAL fold over the SORTED lp list (the
    # q122/q123 determinism pattern): a plain avg() merges partial sums
    # in partition-arrival order, so its last ULP is partitioning- and
    # engine-dependent — a mean landing within that error of a 0.5e-6
    # rounding boundary would hash-flip between engines or between two
    # Spark runs. Sorting makes both engines add the identical float
    # sequence in the identical order; the list is doc-sized (~hundreds
    # of doubles), map-side after the same doc_id shuffle avg() needed.
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.array_sort(F.collect_list("lp")).alias("lps"),
    )
    s = F.aggregate(F.col("lps"), F.lit(0.0), lambda a, b: a + b)
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.round(-(s / F.col("n_bigrams")), 6).alias("cross_entropy"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidate sketch + exact verification
# ---------------------------------------------------------------------------

HH_K = 30        # report words with count > n/K
HH_CAP = 64      # sketch capacity; undercount ≤ n_partition/(CAP+1) < n/K


def heavy_hitters(words: DataFrame, k: int = HH_K, cap: int = HH_CAP) -> DataFrame:
    """Words with count > n/k from a single-column ``word`` frame, via a
    per-partition Misra-Gries candidate sketch + exact verification of
    candidates only (see q110's docstring for the superset proof).
    Requires cap + 1 ≥ k or the sketch's undercount bound no longer
    guarantees the superset property. Exactness under arbitrary
    partitionings is property-tested in test_properties."""
    import pandas as pd

    if cap + 1 < k:
        raise ValueError(f"cap+1 ({cap + 1}) must be ≥ k ({k}) for exactness")

    # words feeds THREE plan subtrees (sketch, exact-count join, total),
    # and Spark reuses exchanges, not scans — so through round 11 the
    # frame was scoped_cache'd here. Optimization round 12 MEASURED the
    # trade (interleaved A/B at sf0.1, guide §5's cache rule): three
    # recomputed scan+tokenize+explode passes beat one cache build plus
    # three InMemoryTableScan reads, 0.782 s → 0.623 s min — the exploded
    # word stream is several times larger than the source parquet, so
    # materializing it costs more than re-deriving it, and the same logic
    # holds harder at 100 TB (a corpus-scale exploded intermediate would
    # spill to disk; compressed-parquet re-scans are cheaper I/O).
    # Exactness is partitioning-independent (each evaluation's sketch
    # yields a valid superset; the exact recount filters it —
    # property-tested under arbitrary partitionings), so the three
    # subtrees may legally see three independent scans.

    def mg_partition(batches):
        cnt: dict[str, int] = {}
        for pdf in batches:
            for w, c in pdf["word"].value_counts().items():
                cnt[w] = cnt.get(w, 0) + int(c)
            if len(cnt) > cap:
                m = sorted(cnt.values())[len(cnt) - cap - 1]
                cnt = {w: c - m for w, c in cnt.items() if c > m}
        yield pd.DataFrame({"word": list(cnt.keys())})

    candidates = words.mapInPandas(mg_partition, schema="word string").distinct()
    exact = (
        words.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    total = words.agg(F.count("*").alias("n"))
    return (
        exact.crossJoin(total)
        .where(F.col("cnt") * k > F.col("n"))
        .select("word", "cnt")
    )


@query(
    "q110_heavy_hitters",
    oracle=f"""
    WITH toks AS (SELECT {DUCK_TOKS} AS toks FROM documents),
    words AS (SELECT unnest(toks) AS word FROM toks)
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM words GROUP BY word
    HAVING count(*) * {HH_K} > (SELECT count(*) FROM words)
    """,
)
def q110_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent words (count > n/HH_K) by Misra-Gries sketch + exact
    verification — the heavy-hitters primitive a corpus pipeline runs to
    find boilerplate tokens/templates without a full word-count shuffle.

    Two-phase exactness: each partition runs a capacity-HH_CAP Misra-Gries
    sketch (every prune subtracts the (len-CAP)-th smallest counter from
    ALL counters, so each unit of decrement is paid by ≥ CAP+1 counters —
    per-partition undercount ≤ n_p/(CAP+1)). Any word with global count
    > n/K exceeds n_p/K > n_p/(CAP+1) in at least one partition
    (pigeonhole), so the union of partition candidates is a SUPERSET of
    the true heavy hitters; an exact count of candidates only (broadcast
    semi-join, integer threshold cnt·K > n) then removes false
    candidates. The result is exactly SQL's HAVING count(*)·K > n — which
    is the oracle.

    Scale: the full token stream is never shuffled — each partition emits
    ≤ CAP candidate words; the exact pass counts only the (tiny)
    candidate set map-side via broadcast and shuffles ≤ CAP·partitions
    rows. The n total rides along as a 1-row agg crossed into the filter
    (no driver action)."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(F.explode(tokens_expr()).alias("word"))
    return heavy_hitters(words)


@query(
    "q122_token_entropy",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    words AS (SELECT doc_id, unnest(toks) AS word FROM t),
    c AS (SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY 1, 2),
    agg AS (SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   list(CAST(cnt AS DOUBLE) ORDER BY cnt) AS cs
            FROM c GROUP BY 1)
    SELECT doc_id, n_tokens,
           round(-list_reduce(
                     list_prepend(0.0,
                         list_transform(cs, x -> (x / n_tokens)
                                              * ln(x / n_tokens))),
                     (a, b) -> a + b), 6) AS entropy
    FROM agg
    """,
)
def q122_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    information-density signal curation uses to catch low-entropy
    template/spam pages (repeated boilerplate scores near 0; diverse
    prose scores near ln(vocab)).

    Cross-engine determinism: the per-term contributions are summed by a
    SEQUENTIAL fold over the SORTED count list (ascending, duplicates
    adjacent), so both engines add the identical float sequence in the
    identical order — the dot-product fold trick applied to an
    information measure; the result is rounded only as hash polish, not
    to mask drift.

    Scale: one (doc, word) counting shuffle + one per-doc aggregation;
    the fold runs over each doc's distinct-token counts (vocabulary-
    bounded, tiny arrays) map-side."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select("doc_id", F.explode(tokens_expr()).alias("word"))
    c = words.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    agg = c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.array_sort(F.collect_list(F.col("cnt").cast("double"))).alias("cs"),
    )
    n = F.col("n_tokens")
    term = lambda x: (x / n) * F.log(x / n)  # noqa: E731
    entropy = -F.aggregate(
        F.transform(F.col("cs"), term), F.lit(0.0), lambda a, b: a + b
    )
    return agg.select("doc_id", "n_tokens", F.round(entropy, 6).alias("entropy"))


@query(
    "q123_naive_bayes_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {DUCK_TOKS} AS toks FROM documents),
    dw AS (SELECT doc_id, lang, unnest(toks) AS word FROM t),
    dwc AS (SELECT doc_id, lang, word, CAST(count(*) AS BIGINT) AS cnt
            FROM dw GROUP BY 1, 2, 3),
    cw AS (SELECT lang AS clang, word, CAST(count(*) AS BIGINT) AS cnt_lw
           FROM dw GROUP BY 1, 2),
    ct AS (SELECT clang, CAST(sum(cnt_lw) AS BIGINT) AS total_l
           FROM cw GROUP BY 1),
    vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM dw),
    prior AS (SELECT lang AS clang, CAST(count(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY 1),
    n_all AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    terms AS (
        SELECT d.doc_id, d.lang, c.clang, d.word,
               d.cnt * ln(CAST(coalesce(x.cnt_lw, 0) + 1 AS DOUBLE)
                          / (c.total_l + vocab.v)) AS term
        FROM dwc d
        CROSS JOIN ct c
        CROSS JOIN vocab
        LEFT JOIN cw x ON x.clang = c.clang AND x.word = d.word
    ),
    scored AS (
        SELECT t2.doc_id, t2.lang, t2.clang,
               list_reduce(list_prepend(0.0, list(t2.term ORDER BY t2.word)),
                           (a, b) -> a + b)
               + ln(CAST(p.n_docs AS DOUBLE) / n_all.n) AS logp
        FROM terms t2
        JOIN prior p ON p.clang = t2.clang
        CROSS JOIN n_all
        GROUP BY t2.doc_id, t2.lang, t2.clang, p.n_docs, n_all.n
    ),
    pred AS (SELECT doc_id, lang, clang AS pred_lang
             FROM (SELECT *, row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY round(logp, 9) DESC, clang ASC) AS rn
                   FROM scored)
             WHERE rn = 1)
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def q123_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND applied
    entirely in-engine (no UDF, no external model): Laplace-smoothed
    per-language word likelihoods from the corpus itself, per-doc
    log-probability scoring, argmax prediction, confusion counts — the
    self-supervised upgrade of q33's marker heuristic, and the pattern
    for any bag-of-words classifier a curation pipeline trains in the
    warehouse.

    Cross-engine determinism stack: all model parameters are ratios of
    exact integer counts; each doc×class log-likelihood is a SEQUENTIAL
    fold over word-sorted terms (identical float sequence, identical
    order in both engines); the argmax ranks the 9-dp-rounded score with
    a class tiebreak.

    Scale: class-conditional count tables are vocabulary-bounded and
    agg-derived — AQE plans their joins from the aggs' true output
    sizes at the stage boundary: broadcast at bench SF, shuffle hash
    join past the threshold (unhinted; only the class-bounded/1-row
    tables carry hints); the doc×class expansion is a map-side multiply of the
    (doc, word) stream by L classes; per-doc folds run over tiny arrays.
    Two corpus shuffles total — the (doc, word) counting aggregation and
    ONE hash(doc_id) repartition that serves both the score aggregation
    and the argmax window (hash(doc_id) satisfies both distributions);
    every other exchange moves vocabulary- or class-bounded rows, with
    the trained model (cw) scoped-cached so train and infer share one
    rollup and the two scalar constants (V, N) folded into a single
    tagged-union global aggregate. 8 exchanges total (docs/PLANS.md),
    down from 11 in round 3."""
    docs = load_table(spark, "documents", sf_dir)
    dw = docs.select("doc_id", "lang", F.explode(tokens_expr()).alias("word"))
    # dwc is the ONLY frame derived from the raw token explode; the class
    # tables roll up from it (cw = Σ cnt, vocab = distinct words of cw),
    # so the corpus is tokenized once, not three times — the same
    # no-subexpression-reuse trap q105/shingle_sets document
    dwc = scoped_cache(
        dw.groupBy("doc_id", "lang", "word").agg(F.count("*").alias("cnt"))
    )
    # cw (the trained model: per-class word counts, vocabulary-bounded)
    # is consumed THREE times — broadcast into the scoring join, rolled
    # up into per-class totals, and counted for the vocabulary size —
    # so it is scoped-cached too: one (clang, word) aggregation over the
    # cached dwc instead of three (train once, score once)
    cw = scoped_cache(
        dwc.groupBy(F.col("lang").alias("clang"), "word").agg(
            F.sum("cnt").alias("cnt_lw")
        )
    )
    ct = cw.groupBy("clang").agg(F.sum("cnt_lw").alias("total_l"))
    prior = scoped_cache(
        docs.groupBy(F.col("lang").alias("clang")).agg(
            F.count("*").alias("n_docs")
        )
    )
    # the two scalar model constants — vocabulary size V (distinct words
    # across the class tables, deduped from the vocab-bounded cw cache)
    # and corpus size N (sum of per-class doc counts ≡ count(*), every
    # doc having exactly one lang) — fold into ONE tagged-union global
    # aggregate: a single 1-row final exchange instead of one per
    # scalar, and no second corpus scan for N
    consts = scoped_cache(
        cw.select("word")
        .distinct()
        .select(F.lit(1).cast("long").alias("val"), F.lit("v").alias("k"))
        .unionAll(prior.select(F.col("n_docs").alias("val"), F.lit("n").alias("k")))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("k") == "v", F.col("val"))), F.lit(0)
            ).alias("v"),
            F.coalesce(
                F.sum(F.when(F.col("k") == "n", F.col("val"))), F.lit(0)
            ).alias("n"),
        )
    )

    terms = (
        dwc.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(consts.select("v")))
        # cw is vocabulary-bounded but NOT hinted: it is agg-derived, so
        # AQE plans the join from its TRUE output size at the stage
        # boundary — broadcast under the threshold (asserted in
        # docs/PLANS.md), shuffle hash join at tera-vocabulary. An
        # explicit hint is unconditional and would force the broadcast.
        # ct / prior / consts stay hinted: they are CLASS-bounded
        # (L rows) or 1-row, sizes that cannot grow with the corpus.
        .join(cw, ["clang", "word"], "left")
        .select(
            "doc_id",
            "lang",
            "clang",
            "word",
            (
                F.col("cnt")
                * F.log(
                    (F.coalesce(F.col("cnt_lw"), F.lit(0)) + 1).cast("double")
                    / (F.col("total_l") + F.col("v"))
                )
            ).alias("term"),
        )
    )
    # one exchange serves BOTH the scoring aggregation and the argmax
    # window: hash(doc_id) satisfies the agg's ClusteredDistribution on
    # (doc_id, lang, clang) — same doc_id rows are colocated — and the
    # window's on (doc_id), so neither inserts its own shuffle
    scored = (
        terms.repartition("doc_id")
        .groupBy("doc_id", "lang", "clang")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("word", "term"))),
                    lambda s: s.term,
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("ll")
        )
        .join(F.broadcast(prior), "clang")
        .crossJoin(F.broadcast(consts.select("n")))
        .select(
            "doc_id",
            "lang",
            "clang",
            (
                F.col("ll")
                + F.log(F.col("n_docs").cast("double") / F.col("n"))
            ).alias("logp"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.round(F.col("logp"), 9)), F.asc("clang")
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("clang").alias("pred_lang"))
    )
    return pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))

"""Deduplication operators over ``documents`` — the core LLM-pipeline set.

Four families, each a ``queries()`` entry with a DuckDB oracle:

* **exact** (q35): hash of whitespace-normalized text, keep-min-id policy.
* **n-gram Jaccard** (q36): word-3-shingle set similarity via shingle
  self-join — exact but quadratic in colliding docs; the oracle-checkable
  ground truth for the approximate families.
* **MinHash + LSH** (q37 signatures, q38 banded candidate pairs): the
  100 TB path. Cross-engine determinism trick: a "permutation" is the
  lexicographic order of ``md5(k || ':' || shingle)`` hex strings, so both
  engines compute identical signatures with nothing but md5/min/concat.
* **SimHash** (q39): 16-bit frequency-weighted fingerprint from per-token
  md5 nibbles — pure integer ops both sides.

Scale notes: exact dedup is one hash-shuffle; MinHash-LSH is
O(docs × 16 hashes) + a band-bucket shuffle (bounded fan-out), replacing
the Jaccard join's worst-case quadratic blow-up; that is why LSH is the
declared 100 TB strategy and q36 is demoted to verification duty.
"""

from __future__ import annotations

import logging
import os
from types import EllipsisType

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from mapreduce_framework_simple_spark.ephemeral import (
    _input_fingerprint,
    memo_stat,
    release_local_checkpoint,
    scoped_broadcast,
    scoped_cache,
    scoped_release,
)
from mapreduce_framework_simple_spark.operators.text import (
    DUCK_SHINGLES,
    DUCK_TOKS,
    WS_CLASS,
    shingles_expr,
    tokens_expr,
)
from mapreduce_framework_simple_spark.registry import query
from mapreduce_framework_simple_spark.sources.io import load_table

# Normalization shared by exact-dedup: collapse whitespace runs, trim, lower.
# (Python-API regexp_replace, NOT F.expr — Spark SQL string literals treat
# backslash as an escape, silently turning '\s+' into 's+'.)
# EXPLICIT whitespace class, not \s: Java's \s is [ \t\n\x0B\f\r] but
# DuckDB's RE2 \s omits vertical tab U+000B, so a document containing one
# would normalize differently across engines and split its exact-dedup
# group. The class is the SHARED text.WS_CLASS constant — tokenization
# and normalization must collapse the same characters, and a second
# literal copy here once let the two drift (oracle-invisible: the same
# wrong value in both engines).
_WS_CLASS = WS_CLASS


def norm_expr() -> "F.Column":
    # COLLAPSE before TRIM: trim() strips only ' ' (both engines), so a
    # leading "\thello" must first collapse to " hello" for the trim to
    # remove it — trimming first left a stray leading/trailing space that
    # split true duplicate groups (same wrong value in both engines, so
    # the oracle could not catch it). _WS_CLASS reused verbatim: a second
    # literal copy here once let the class drift from DUCK_NORM's.
    return F.trim(F.regexp_replace(F.lower(F.col("text")), _WS_CLASS, " "))

DUCK_NORM = f"trim(regexp_replace(lower(text), '{_WS_CLASS}', ' ', 'g'))"


@query(
    "q35_dedup_exact",
    oracle=f"""
    SELECT md5({DUCK_NORM}) AS text_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def q35_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash normalized text, count copies, keep min id.

    Scale: one shuffle keyed by a 128-bit hash (not the full text), so the
    exchange carries 16-byte keys; the keep-min policy is a plain min()
    aggregate, no window needed."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.groupBy(F.md5(norm_expr()).alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def shingle_sets_from(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct pairs from any (doc_id, text) frame.

    Tokens are materialized as a column BEFORE the shingle transform:
    expressions inside a lambda are not subexpression-eliminated, so
    inlining tokens_expr() would re-split the text once per element_at
    (~370 regex splits per document — measured 14 s vs 0.5 s at sf0.1)."""
    # NOTE: explode + .distinct() (one small shuffle) deliberately beats
    # the "obvious" shuffle-free array_distinct-before-explode: wrapping
    # the shingle transform in array_distinct forces the whole generator
    # out of codegen into interpreted eval (measured 0.7 s vs 16.5 s warm
    # at sf0.1).
    return (
        docs.select("doc_id", tokens_expr().alias("toks"))
        .select("doc_id", F.explode(shingles_expr(F.col("toks"))).alias("shingle"))
        .distinct()
    )


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct pairs — shared base of q36-q38."""
    return shingle_sets_from(load_table(spark, "documents", sf_dir))


# 60-bit integer shingle id derived from md5 — identical value in Spark
# (conv hex→dec) and DuckDB ('0x…'::BIGINT). Joining/grouping on an 8-byte
# int instead of the shingle string makes the q36 self-join and the q37/38
# signature math integer-only; collision probability at 60 bits is ~N²/2⁶¹
# (≈4e-10 for 30k distinct shingles), and both engines hash identically so
# even a collision cannot cause an oracle mismatch.
def shingle_id_expr() -> "F.Column":
    return F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("bigint")

DUCK_SHINGLE_ID = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"


def shingle_id_sets_from(docs: DataFrame) -> DataFrame:
    """(doc_id, sid) distinct pairs with integer shingle ids from any
    (doc_id, text) frame — THE sid projection; every consumer (signature
    pass, LSH quality report, q112 anchors) routes through here so a
    change to the sid derivation (e.g. widening the 60-bit id) cannot
    silently diverge between the signature and truth sides."""
    return shingle_sets_from(docs).select(
        "doc_id", shingle_id_expr().alias("sid")
    )


def shingle_id_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sid) distinct pairs with integer shingle ids."""
    return shingle_id_sets_from(load_table(spark, "documents", sf_dir))


_DUCK_SID_SETS_TAIL = f"""
    sid_sets AS (SELECT doc_id, {DUCK_SHINGLE_ID} AS sid FROM sh)
"""


_DUCK_SHINGLE_SETS = f"""
    docs AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle
           FROM docs)
"""

JACCARD_T = 0.5

# Prefix-kernel verify: force the packed shingle-array broadcast while
# its exact byte bound (cached rows × 8 B of sid + docs × ~64 B array/row
# overhead) stays under this. 256 MB: well under the 8 GB / 512M-row
# broadcast hard cap and comfortable for production executors (guide
# §3.1); the measured win at the 20× probe (48 MB estimate) is 4.7× on
# the verify stage. Beyond the bound the planner's shuffle join stands.
PACKED_BROADCAST_BYTES_BOUND = 256 * 1024 * 1024


def ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered (PPJoin-style) variant of q36 — identical results,
    different plan. Returns
    exactly the naive all-pairs answer (the oracle computes the naive
    form) while never joining on hot shingles:

    * order the shingle universe globally, rarest first;
    * a pair with J ≥ t has |a∩b| ≥ ⌈t·|a|⌉ and ≥ ⌈t·|b|⌉, so its
      globally-smallest common shingle lies within the first
      |d| − ⌈t·|d|⌉ + 1 shingles of BOTH docs (pigeonhole) — candidates
      are generated from those short prefixes only;
    * candidates are verified exactly via array_intersect of the full
      (sorted, collected) shingle arrays.

    Worst-case safe: the candidate join touches ~(1−t) of each doc's
    shingles in rarest-first order, so frequency skew cannot go
    quadratic. Measured cold-for-cold (tools/jaccard_crossover.py,
    round 9 — replacing round-5 warm-vs-cold-biased figures):

    * ordinary corpora (fan-out 4.9–53 measured at 1×–10× replicas):
      naive wins (1.80 s vs 3.79 s at 1×; 20.46 s vs 23.54 s at 10×)
      — bookkeeping outweighs the blowup it prevents;
    * dup-heavy corpora (fan-out ≥ 75, 14×+ replicas): the quadratic
      term bites and the prefix wins (28.4 s vs 35.4 s at 14×,
      50.7 s vs 71.8 s at 20×).

    q36 dispatches between the two kernels automatically on the measured
    join fan-out (see :func:`_jaccard_join_fanout`); this entry point
    forces the prefix plan (equality-tested in test_similarity_dedup)."""
    sh = scoped_cache(shingle_id_sets(spark, sf_dir))
    return _jaccard_prefix_pairs(sh, sf_dir).select(
        "doc_a", "doc_b", F.round(F.col("jaccard_raw"), 6).alias("jaccard")
    )


def _jaccard_prefix_pairs(sh: DataFrame, sf_dir: str) -> DataFrame:
    """The prefix-filter kernel body over a CACHED (doc_id, sid) frame
    read from ``sf_dir`` — returns (doc_a, doc_b, jaccard_raw
    UNROUNDED), identical rows to :func:`_jaccard_truth_pairs` (see
    :func:`ngram_jaccard_prefix` for the algorithm and measured
    regimes). A frame already carrying the per-doc shingle count as
    ``__doc_n`` (q36 bakes it into the shared cache — see
    :func:`_with_doc_n`) skips this kernel's own count window."""
    from pyspark.sql import Window

    sh = _doc_n_frame(sh)
    freq = sh.groupBy("sid").agg(F.count("*").alias("df"))
    # global rarest-first order; per-doc prefix positions (n: same value
    # after the freq join — one row per (doc_id, sid) either side)
    ranked = sh.join(freq, "sid").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sid"))
        ),
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(JACCARD_T) * F.col("n")) + 1
    ).select("doc_id", "sid", "n", "pos")
    # Candidate pruning in the join condition (optimization round 13):
    # the bare prefix-equi-join goes quadratic on dup-heavy corpora
    # (MEASURED at the 20× offset-replica probe: 164.7M distinct
    # candidates, 475 s end-to-end — a pre-existing cliff, identical
    # candidate count on the pre-round-13 tree). Two provably-lossless
    # PPJoin-family filters cut it to 50.9M (−69%) on the same probe:
    #
    # * LENGTH RATIO (same bound as the naive kernel — see
    #   _jaccard_truth_pairs): J ≥ t ⟹ min(n_a,n_b)/max(n_a,n_b) ≥ t,
    #   correctly-rounded-division monotonicity makes the double
    #   comparison conservative for any t. −24% alone (125.0M).
    # * POSITIONAL: a qualifying pair needs overlap α ≥ t/(1+t)·(n_a+
    #   n_b); for the pair's globally-FIRST common shingle (both docs
    #   rank their shingles by the same global (df, sid) order) every
    #   other common shingle sits after pos_a/pos_b in both suffixes,
    #   so α ≤ 1 + min(n_a−pos_a, n_b−pos_b). The occurrence generated
    #   by that first common shingle therefore always PASSES, and the
    #   distinct() keeps a pair when any occurrence passes — lossless.
    #   Integer-exact form (1+min ≥ α ⟺ (p+q)·(1+min) ≥ p·(n_a+n_b)
    #   with t = p/q taken from the float's exact Fraction; lhs is an
    #   integer so no float boundary case exists), applied only while
    #   p+q stays overflow-safe next to n ≤ 2^40 — an exotic threshold
    #   float silently skips just this filter (weaker, never wrong).
    a, b = prefix.alias("a"), prefix.alias("b")
    cond = (
        (F.col("a.sid") == F.col("b.sid"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.least(F.col("a.n"), F.col("b.n")).cast("double")
            / F.greatest(F.col("a.n"), F.col("b.n"))
            >= F.lit(JACCARD_T)
        )
    )
    from fractions import Fraction

    frac_t = Fraction(JACCARD_T)
    p, q = frac_t.numerator, frac_t.denominator
    if p + q <= 1 << 20:
        cond = cond & (
            (p + q)
            * (
                F.lit(1)
                + F.least(
                    F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
                )
            )
            >= p * (F.col("a.n") + F.col("b.n"))
        )
    cand = (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification on packed shingle arrays; the threshold/union
    # rule itself routes through _jaccard_filter — THE single definition
    # shared with the naive kernel, the q112 truth side, and the referee,
    # so a rule change can never make q36 dispatch-dependent.
    # SIZE-DISPATCHED broadcast (round 13): at the 20× dup-heavy probe
    # the planner's estimate pushed packed past the auto threshold and
    # BOTH verify joins became shuffles of the full candidate stream —
    # measured 168.8 s vs 36.2 s with packed broadcast (4.7×). packed
    # bytes are provably ≈ rows×8 (each cached (doc_id, sid) row lands
    # in exactly one array) + docs×overhead, both exact from ONE small
    # aggregate over the already-cached sh, so the broadcast is forced
    # only when that bound fits comfortably (guide §3.1: a few hundred
    # MB is fine); a corpus-scale doc count falls back to the planner's
    # shuffle join — the safe direction.
    packed = sh.groupBy("doc_id").agg(F.array_sort(F.collect_list("sid")).alias("sids"))

    def size() -> tuple[int, int]:
        st = sh.agg(
            F.count("*").alias("rows"), F.count_distinct("doc_id").alias("docs")
        ).collect()[0]
        return int(st["rows"]), int(st["docs"])

    rows, docs = memo_stat("packed_size", sh, sf_dir, size)
    if rows * 8 + docs * 64 <= PACKED_BROADCAST_BYTES_BOUND:
        packed = F.broadcast(packed)
    inter = (
        cand.join(
            packed.select(F.col("doc_id").alias("doc_a"), F.col("sids").alias("sids_a")),
            "doc_a",
        )
        .join(
            packed.select(F.col("doc_id").alias("doc_b"), F.col("sids").alias("sids_b")),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("sids_a", "sids_b")).alias("n_inter"),
        )
    )
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return _jaccard_filter(inter, cnt)


# Kernel dispatch threshold for q36: mean naive-self-join fan-out
# (emitted pairs per shingle-set row, Σ C(df,2) / Σ df). Re-derived
# in optimization round 13 after BOTH kernels changed (naive gained
# the length-ratio prefilter; prefix gained candidate pruning + the
# packed-broadcast dispatch, 14.6× at 20×), same protocol as the
# round-9 derivation this replaces (tools/jaccard_crossover.py —
# cold-for-cold, min of 2, documents-only offset replicas of sf0.1):
#
#   fan-out 21.0 (4×):  naive  6.63 s  prefix  8.14 s  → naive
#     (re-run:          naive  6.95 s  prefix  8.43 s)
#   fan-out 53.2 (10×): naive 15.23 s  prefix 12.35 s  → prefix
#     (re-run:          naive 12.49 s  prefix 11.38 s)
#   fan-out 74.7 (14×): naive 26.09 s  prefix 13.05 s  → prefix (2.0×)
#   fan-out 106.8 (20×): q36-via-prefix 35.2 s vs naive-era 513 s
#
# (Both r13 sweeps ran with residual background shadows — loadavg
# 7–29 — but kernels interleave within each regime, so the ORDER is
# trustworthy; margins carry that noise. The r9 table read naive 20.46
# vs prefix 23.54 at 10× — the prefix kernel's pruning moved the
# crossover left.) Bracket now (21.0, 53.2); 35 sits inside it,
# nearer the naive-wins bound because the mis-routing costs stay
# asymmetric: prefix-when-naive-was-better caps at ~1.2× measured,
# while naive grows quadratically in dup-heaviness past the
# crossover (26 s vs 13 s already at fan-out 75, and widening).
JACCARD_FANOUT_DISPATCH = 35.0

# The fan-out probe measures a 1-in-8 deterministic ROW-hash sample
# (hash of (sid, doc_id)): the per-sid groupBy would otherwise shuffle
# nearly the whole shingle frame (sids are mostly unique). Measured at
# sf0.1 (warm): ~0.65–0.8 s, ≈30–40 % of the naive kernel — fixed
# per-job overhead dominates at bench scale (the unsampled aggregate
# times the same there; the sample pays off where shuffle volume
# dominates) — paid once per (session, input) via ephemeral.memo_stat,
# and ~1.5–2 % of the 43–66 s kernels in the dup-heavy regime the dispatch
# exists for (docs/SCALE.md). Sampling by ROW —
# not by sid — is what makes the probe skew-robust: a single ultra-hot
# boilerplate shingle (df = 100k) lands ~df/8 rows in every sample, so
# it can never be missed the way an all-or-nothing per-sid sample would
# miss it with probability 7/8. Per-sid counts c_s ~ Binomial(df_s, p)
# are then debiased with the standard second-moment estimator
# E[c²] = p²df² + p(1−p)df  ⇒  df²̂ = (c² − (1−p)c)/p², giving an
# unbiased Σ C(df,2)/Σ df — the same statistic tools/jaccard_crossover.py
# reports per regime, so JACCARD_FANOUT_DISPATCH compares like with
# like. An empty sample (tiny corpus) reads as 0.0 → naive kernel, the
# right call at that size.
_FANOUT_SAMPLE_MOD = 8


def _jaccard_join_fanout(sh: DataFrame) -> float:
    """Predicted output rows PER INPUT ROW of the naive sid self-join
    (Σ_s C(df_s, 2) / Σ_s df_s) — the skew statistic q36's kernel
    dispatch keys on. One map-side-combined aggregate over a 1/8
    row-hash sample of the (cached) shingle frame (see the
    ``_FANOUT_SAMPLE_MOD`` comment for the debiasing math and why row
    sampling — unlike sid sampling — cannot miss a hot shingle); the
    eager collect is a single scalar row, the same one-small-action
    pattern as the LSH fan-out guard."""
    p = 1.0 / _FANOUT_SAMPLE_MOD
    row = (
        sh.where(
            F.pmod(F.xxhash64("sid", "doc_id"), F.lit(_FANOUT_SAMPLE_MOD)) == 0
        )
        .groupBy("sid")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(
                (F.col("c") * F.col("c") - (1.0 - p) * F.col("c")) / (p * p)
            ).alias("sum_df2"),
            (F.sum("c") / p).alias("sum_df"),
        )
        .select(
            (
                (F.col("sum_df2") - F.col("sum_df")) / (2.0 * F.col("sum_df"))
            ).alias("fanout")
        )
        .collect()[0]
    )
    return max(0.0, float(row["fanout"] or 0.0))


@query(
    "q36_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    cnt AS (SELECT doc_id, count(*) AS n FROM sid_sets GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM sid_sets a JOIN sid_sets b ON a.sid = b.sid AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) >= 0.5
    """,
)
def q36_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-3-shingle Jaccard ≥ 0.5 (shingles
    identified by their 60-bit md5-derived integer id — see
    shingle_id_expr for why that is oracle-safe).

    Kernel choice is a size-based planner `if`, mirroring q120's
    dispatch: the measured naive-self-join fan-out
    (:func:`_jaccard_join_fanout`, one aggregate over a 1/8 row-hash
    sample, memoized by ``ephemeral.memo_stat``) picks the naive sid self-join below
    ``JACCARD_FANOUT_DISPATCH`` — faster on ordinary corpora, where
    prefix bookkeeping outweighs the blow-up it prevents — and the
    PPJoin-style prefix kernel (:func:`_jaccard_prefix_pairs`) above it,
    where frequency skew would make the naive join quadratic (crossover
    measured cold-for-cold in tools/jaccard_crossover.py; the kernels
    are equality-tested). q38's MinHash-LSH is the 100 TB path and this
    operator is its ground-truth verifier.

    The shared cache carries the per-doc shingle count ``__doc_n`` (one
    window exchange at materialization — round 13): the truth kernel's
    length-ratio prefilter reads it on both join sides, its cnt
    aggregate and both prefix-kernel windows reuse the cache's
    hash(doc_id) partitioning, and the variant measured here beat both
    the inherited shape (1.66 → 1.29 s min, interleaved) and the
    per-side broadcast-join attach (which LOST 2.06 → 3.47 —
    see _jaccard_truth_pairs)."""
    sh = scoped_cache(_with_doc_n(shingle_id_sets(spark, sf_dir)))
    fanout = memo_stat("jaccard_fanout", sh, sf_dir,
                       lambda: _jaccard_join_fanout(sh))
    if fanout > JACCARD_FANOUT_DISPATCH:
        pairs = _jaccard_prefix_pairs(sh, sf_dir)
    else:
        pairs = _jaccard_truth_pairs(sh)
    return pairs.select(
        "doc_a", "doc_b", F.round(F.col("jaccard_raw"), 6).alias("jaccard")
    )


def _jaccard_filter(inter: DataFrame, cnt: DataFrame) -> DataFrame:
    """THE single definition of the Jaccard-threshold rule: given
    intersection counts (doc_a, doc_b, n_inter) and per-doc distinct
    shingle counts (doc_id, n), keep pairs with
    |a∩b| / (|a| + |b| − |a∩b|) ≥ JACCARD_T and return
    (doc_a, doc_b, jaccard_raw UNROUNDED). q36, the q112 anchored
    truth side, and the full referee all pass through here, so a
    threshold or union-formula change cannot silently diverge the
    verifier from the eval."""
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = F.col("n_inter").cast("double") / (
        F.col("ca.n") + F.col("cb.n") - F.col("n_inter")
    )
    return (
        inter.join(ca, F.col("ca.doc_id") == F.col("doc_a"))
        .join(cb, F.col("cb.doc_id") == F.col("doc_b"))
        .where(jac >= JACCARD_T)
        .select("doc_a", "doc_b", jac.alias("jaccard_raw"))
    )


def _with_doc_n(sh: DataFrame) -> DataFrame:
    """Attach the per-doc shingle count as column ``__doc_n`` unless the
    frame already carries it. q36 computes it ONCE inside its shared
    cache build (one hash(doc_id) window exchange paid at
    materialization); ad-hoc callers handing a plain (doc_id, sid) frame
    get the same column inline. The name is the kernels' own, so a
    caller's column that happens to be called ``n`` is never taken for
    the count."""
    if "__doc_n" in sh.columns:
        return sh
    from pyspark.sql import Window

    return sh.withColumn(
        "__doc_n", F.count("*").over(Window.partitionBy("doc_id"))
    )


def _doc_n_frame(sh: DataFrame) -> DataFrame:
    """The kernels' input: (doc_id, sid, n) with ``n`` the per-doc
    shingle count from :func:`_with_doc_n`; other columns are dropped."""
    return _with_doc_n(sh).select("doc_id", "sid", F.col("__doc_n").alias("n"))


def _jaccard_truth_pairs(sh: DataFrame) -> DataFrame:
    """Exact Jaccard ≥ JACCARD_T pairs over a (doc_id, sid) shingle-id
    frame (all unordered pairs WITHIN the frame, doc_a < doc_b) — the
    self-join form of the ground-truth rule; the threshold itself lives
    in :func:`_jaccard_filter`, shared with q112's anchored truth side.
    Returns (doc_a, doc_b, jaccard_raw UNROUNDED); quadratic in
    colliding docs by design — verification duty only.

    Optimization round 13 (guide §2.3 — shuffle fewer bytes): the join
    carries each doc's shingle count ``n`` and drops pairs failing the
    LENGTH-RATIO bound before the pair exchange. J ≥ t ⟹
    n_inter ≥ t·(n_a + n_b − n_inter) with n_inter ≤ min(n_a,n_b)
    ⟹ min(n_a,n_b) ≥ t·max(n_a,n_b) — so a pair with
    min/max < t cannot pass :func:`_jaccard_filter`. Float-safe: the
    dropped predicate uses the same correctly-rounded double division as
    the final filter, and n_inter ≤ min, union ≥ max as exact integers
    make (n_inter/union) ≤ (min/max) under round-to-nearest monotonicity
    — no pair with jaccard_raw ≥ t is ever dropped, for ANY t. Measured
    at sf0.1 (interleaved A/B, round 13): pair-exchange rows 1.27M →
    0.97M (−24%) and min 1.66 s → 1.29 s with the window baked into the
    shared cache; attaching n via per-side broadcast joins instead was
    measured WORSE (2.06 vs 3.47 — the two extra build-side probes cost
    more than the row cut saves)."""
    sh = _doc_n_frame(sh)
    # cnt for the exact-union filter: one row per doc. Over q36's cache
    # the groupBy reuses the window's hash(doc_id) partitioning — no
    # exchange (min(n) ≡ the window count; every row of a doc carries
    # the identical value).
    cnt = sh.groupBy("doc_id").agg(F.min("n").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    ratio_ok = (
        F.least(F.col("a.n"), F.col("b.n")).cast("double")
        / F.greatest(F.col("a.n"), F.col("b.n"))
        >= F.lit(JACCARD_T)
    )
    inter = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ratio_ok,
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_filter(inter, cnt)


N_HASHES = 16
BAND_SIZE = 4  # 4 bands × 4 rows: P(candidate) = 1-(1-j^4)^4 — ~0.97 at j=0.8

# Fixed universal-hash family over the Mersenne prime 2³¹-1:
# perm_k(x) = (A[k]·(x mod P) + B[k]) mod P. Constants generated once
# (seed 42) and inlined as literals so Spark and DuckDB share the family.
# 31-bit operands keep every product < 2⁶² — no 64-bit overflow in either
# engine. One md5 per shingle total (vs one per shingle×permutation).
MINHASH_P = 2147483647
MINHASH_A = [1373158607, 239081664, 53710185, 1592467582, 590620972, 525901257,
             479341424, 299655413, 1581559893, 220106708, 1453201079, 1590571866,
             1915941033, 1171165723, 186699714, 1268073013]
MINHASH_B = [906070220, 68252793, 63989047, 201209005, 469521477, 499635468,
             1085242216, 1292825378, 56985561, 1205264595, 427000596, 1537640408,
             1395616196, 1506083910, 1170252923, 900911954]

_DUCK_A = "[" + ", ".join(map(str, MINHASH_A)) + "]"
_DUCK_B = "[" + ", ".join(map(str, MINHASH_B)) + "]"

_DUCK_SIG = f"""
    sig AS (SELECT doc_id, k,
                   min(({_DUCK_A}[k + 1] * (sid % {MINHASH_P}) + {_DUCK_B}[k + 1])
                       % {MINHASH_P}) AS sig
            FROM sid_sets CROSS JOIN range(0, {N_HASHES}) t(k)
            GROUP BY doc_id, k)
"""


def minhash_signatures_wide_from(docs: DataFrame) -> DataFrame:
    """One-pass signature computation from any (doc_id, text) frame: 16
    min() aggregates over the integer shingle ids — no row explosion at
    all. The shuffle moves 16 longs per doc per partition (partial mins),
    nothing else."""
    sh = shingle_id_sets_from(docs)
    x = F.col("sid") % MINHASH_P
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(MINHASH_A[k]) * x + F.lit(MINHASH_B[k])) % MINHASH_P).alias(f"s{k}")
            for k in range(N_HASHES)
        ]
    )


def minhash_signatures_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures_wide_from(load_table(spark, "documents", sf_dir))


@query(
    "q37_minhash_signatures",
    oracle=f"""
    WITH {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    {_DUCK_SIG}
    SELECT doc_id, CAST(k AS INT) AS k, CAST(sig AS BIGINT) AS sig FROM sig
    """,
)
def q37_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (16 universal-hash permutations,
    long-form). Computed wide (single pass) then unpivoted to match the
    (doc_id, k, sig) contract."""
    wide = minhash_signatures_wide(spark, sf_dir)
    stack_args = ", ".join(f"{k}, s{k}" for k in range(N_HASHES))
    return wide.select(
        "doc_id",
        F.expr(f"stack({N_HASHES}, {stack_args}) AS (k, sig)"),
    ).select("doc_id", F.col("k").cast("int").alias("k"), F.col("sig").cast("long").alias("sig"))


def band_signatures_from(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) LSH band keys from any (doc_id, text)
    frame — one pass for all 16 signature mins, then a stack to long
    form. This is the unit the persisted LSH index stores and the unit
    an incremental batch computes for itself."""
    wide = minhash_signatures_wide_from(docs)
    band_cols = [
        F.concat_ws(
            ",", *[F.col(f"s{b * BAND_SIZE + i}").cast("string") for i in range(BAND_SIZE)]
        ).alias(f"band{b}")
        for b in range(N_HASHES // BAND_SIZE)
    ]
    banded = wide.select("doc_id", *band_cols)
    stack_args = ", ".join(f"{b}, band{b}" for b in range(N_HASHES // BAND_SIZE))
    return banded.select(
        "doc_id", F.expr(f"stack({N_HASHES // BAND_SIZE}, {stack_args}) AS (band, band_sig)")
    )


# Cap on docs sharing one (band, band_sig) bucket. The band key is
# near-unique EXCEPT for boilerplate: q127 proves the corpus contains
# shingles shared by >= 5 sources, and a boilerplate-heavy bucket makes
# that bucket's pair output quadratic (a 10k-doc bucket alone emits
# 50M pairs). Buckets above the cap are dropped — true near-dups agree
# on MULTIPLE bands, so they still surface via their other (smaller)
# buckets; what the cap removes is exactly the template-text noise a
# production dedup wants suppressed anyway. Never silent: every drop is
# counted and logged (the no-silent-caps rule).
LSH_MAX_BUCKET = 1000


def _drop_oversized_buckets(
    bands: DataFrame, max_bucket_size: int, what: str, cache_fn=None
) -> DataFrame:
    """Remove rows of (band, band_sig) buckets holding more than
    ``max_bucket_size`` docs; log the dropped-bucket count eagerly.

    Scale: the bucket-size aggregate does map-side partial aggregation
    (16 rows/doc in, ~1 row/bucket out), and the oversized list — at
    most N/cap rows by construction — broadcasts into a map-side
    anti-join, so the guard adds no corpus-sized shuffle. The caller
    must pass CACHED ``bands`` (the guard's eager count doubles as the
    cache-populating action, so the count + downstream join together
    cost ONE signature materialization, not three), and the common
    no-oversized-bucket case returns ``bands`` untouched — zero plan
    change, just the one small aggregate job over the cache.
    ``cache_fn`` overrides how the oversized list is cached (default:
    query-scoped; the session memo passes its own holder)."""
    oversized = (cache_fn or scoped_cache)(
        bands.groupBy("band", "band_sig")
        .agg(F.count("*").alias("bucket_n"))
        .where(F.col("bucket_n") > max_bucket_size)
        .select("band", "band_sig")
    )
    # eager tiny action: a capped result must never look complete —
    # surface the drop count at the moment the cap decision is made
    # (also populates both caches: bands via the agg scan, oversized)
    n_dropped = oversized.count()
    if not n_dropped:
        return bands
    logger.warning(
        "%s: dropped %d LSH bucket(s) exceeding %d docs "
        "(boilerplate guard; pairs within them are not emitted)",
        what, n_dropped, max_bucket_size,
    )
    # UNHINTED anti-join (module hint policy): the oversized list is
    # worst-case corpus-proportional (~bands·N/cap rows on a
    # boilerplate-heavy corpus) and it is agg-derived — sitting atop the
    # groupBy exchange — so AQE plans the join from its TRUE size:
    # broadcast while small (the common case: a handful of hot buckets),
    # shuffled anti-join when a pathological corpus grows it. A hint
    # would force a driver-side hashed relation at any size.
    return bands.join(oversized, ["band", "band_sig"], "left_anti")


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None | EllipsisType = ...
) -> DataFrame:
    """Banded self-join on (band, band_sig): distinct candidate pairs
    (doc_a < doc_b). The single definition of the LSH candidate rule —
    q38 and pipeline.curate both call this, so a banding change cannot
    silently diverge between the oracle-verified query and the pipeline.

    Buckets larger than ``max_bucket_size`` docs are dropped before the
    join (see ``LSH_MAX_BUCKET``); pass ``None`` when the input is
    already capped (:func:`capped_corpus_bands`, q38's memoized path) or
    to genuinely disable the guard (test/ground-truth use only). With
    the guard on, ``bands`` is cached
    here so the guard's count and the self-join's two scans share ONE
    signature materialization (idempotent if the caller already cached
    the same plan — Spark's CacheManager dedupes by plan).

    NOTE: the guard's drop-count action runs EAGERLY at plan-construction
    time (deliberate: a capped result must never look complete, and the
    inputs are immutable parquet, so the decision cannot go stale) — this
    function, and the q38-composing queries, are therefore not pure plan
    builders. The DuckDB oracles mirror the cap (``bok``/``kept`` CTEs),
    so query/oracle hash equality holds even when the cap fires."""
    # ``...`` default = "the module's current LSH_MAX_BUCKET", read at
    # CALL time — a def-time default would freeze the value, so a runtime
    # change (monkeypatch, the curate CLI knob) would silently apply to
    # capped_corpus_bands (which reads the global) but not to default-arg
    # callers. None still means "guard disabled".
    if max_bucket_size is ...:
        max_bucket_size = LSH_MAX_BUCKET
    if max_bucket_size is not None:
        bands = scoped_cache(bands)
        bands = _drop_oversized_buckets(bands, max_bucket_size, "lsh_candidate_pairs")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def capped_corpus_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's band-signature frame with the hot-bucket guard
    applied — MEMOIZED per (session, sf_dir) in the session memo
    (``ephemeral.memo_get``/``memo_put``), which survives the per-query
    ``release_caches()``: the inputs are immutable parquet and the cap
    decision is a pure function of them, so q38 and every query
    composing it share one signature materialization and one eager
    drop-count aggregate per session instead of one per query (the
    round-3 bench drift on the q38 family). The drop count is still
    logged, once, at memo-build time — a capped result never looks
    complete. Bounded: 4 rows/doc of (id, band, 44-byte band_sig),
    ~0.02 % of the corpus text."""
    from mapreduce_framework_simple_spark import ephemeral

    # applicationId, not id(spark): a stopped session's Python object id
    # can be reused by a NEW session after GC, which would hand back a
    # dead entry; the app id is unique per session launch. The cap value
    # is part of the key, so a consumer that changes LSH_MAX_BUCKET
    # mid-session can never receive a frame capped at the old threshold;
    # the input fingerprint is part of the key, so a same-path dataset
    # REWRITE mid-session can never serve stale bands.
    docs_path = os.path.join(sf_dir, "documents.parquet")
    fp = _input_fingerprint(docs_path, spark)
    key = (
        "capped_corpus_bands",
        spark.sparkContext.applicationId,
        sf_dir,
        fp,
        LSH_MAX_BUCKET,
    )
    hit = ephemeral.memo_get(key)
    if hit is not None:
        return hit
    # same-path entries under a DIFFERENT fingerprint are stale — and
    # worse than wasted storage: the CacheManager matches by logical
    # plan, so with their frames still registered a rebuild would
    # silently serve the OLD cached data. Evict them, then drop the
    # (possibly stale) shared file-status cache for the path so the new
    # scan re-lists the rewritten files.
    if ephemeral.evict_stale_inputs(key[:3], fp, fp_pos=3):
        try:
            spark.catalog.refreshByPath(docs_path)
        except Exception:
            pass
    holds: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        df = df.cache()
        holds.append(df)
        return df

    try:
        bands = hold(band_signatures_from(load_table(spark, "documents", sf_dir)))
        capped = _drop_oversized_buckets(
            bands, LSH_MAX_BUCKET, "capped_corpus_bands", cache_fn=hold
        )
    except BaseException:
        # a failed build (e.g. the guard's eager count dies on executor
        # loss) must not leak cached frames that no registry tracks —
        # release what hold() pinned, then surface the error
        for h in holds:
            try:
                h.unpersist(blocking=False)
            except Exception:
                pass
        raise
    return ephemeral.memo_put(key, capped, holds)


def write_lsh_index(docs: DataFrame, path: str) -> None:
    """Persist the corpus's LSH band signatures, partitioned by band —
    the dedup index a production pipeline maintains so each incoming
    batch is checked against the corpus WITHOUT recomputing corpus
    signatures. 16 longs per doc, ~1/1000th of the text it indexes.

    Each row also stores its bucket's population (``bucket_n``) so the
    probe can enforce the boilerplate fan-out cap map-side, at zero
    probe-time shuffle — the one window shuffle is paid once here, at
    build time, over 16-longs-per-doc rows."""
    from pyspark.sql import Window

    sized = band_signatures_from(docs).withColumn(
        "bucket_n",
        F.count("*").over(Window.partitionBy("band", "band_sig")),
    )
    sized.write.mode("overwrite").partitionBy("band").parquet(path)


# Probe-side broadcast bound for incremental_lsh_candidates: band rows of
# the incoming batch (4 bands/doc, 3 longs/row) — 2M rows ~ 50 MB, a
# comfortable broadcast; backfill batches beyond it dispatch to unhinted
# joins.
INCREMENTAL_BROADCAST_BANDS = 2_000_000


def incremental_lsh_candidates(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    max_bucket_size: int | None | EllipsisType = ...,
) -> DataFrame:
    """Near-dup candidates between a NEW document batch and an indexed
    corpus: compute band signatures for the batch only, broadcast them
    (size-dispatched: batches under ``INCREMENTAL_BROADCAST_BANDS`` band
    rows are hinted for a map-side hash join against the index scan;
    corpus-scale backfill batches run unhinted so the planner/AQE pick
    the strategy instead of an unconditional hint forcing an
    over-threshold broadcast), and probe the persisted index on
    (band, band_sig). Returns (new_doc_id, corpus_doc_id) distinct
    pairs.

    Fan-out guard — UNION-bucket semantics, exactly mirroring
    :func:`lsh_candidate_pairs` on the combined corpus: a bucket is
    dropped when its corpus population (the index's stored ``bucket_n``)
    PLUS its batch population exceeds ``max_bucket_size``. Capping each
    side independently would be weaker — 600 indexed + 600 batch docs in
    one boilerplate bucket pass both per-side checks yet emit 360k cross
    pairs, while monolithic q38 on the union (bucket size 1200) drops
    them. Dropped buckets are counted and logged (no silent caps); for
    indexes written before ``bucket_n`` existed, the corpus populations
    are derived on the fly with one extra column-pruned index
    aggregation (warning logged suggesting a rebuild) — the union-bucket
    cap semantics hold either way.

    Scale: the guard decision joins the index against the (tiny,
    broadcast) batch bucket list — one column-pruned index metadata
    scan — and the probe itself is one more index scan with a map-side
    hash join; batch-side cost is the batch's own signature pass.
    Equality with the batch-recompute formulation (q38 on the union,
    restricted to cross pairs) is asserted in test_similarity_dedup,
    including a planted case where the cap fires only on the UNION."""
    if max_bucket_size is ...:  # call-time read of the module global
        max_bucket_size = LSH_MAX_BUCKET  # (see lsh_candidate_pairs)
    nb = band_signatures_from(new_docs)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        nb = nb.withColumn(
            "nb_n", F.count("*").over(Window.partitionBy("band", "band_sig"))
        )
    nb = scoped_cache(nb)
    # q120-style size dispatch on the probe side: a routine ingest batch
    # broadcasts (map-side hash join against the index scan), but an
    # explicit hint is UNCONDITIONAL — AQE cannot demote it — so a
    # corpus-scale backfill batch would force an over-threshold broadcast
    # build and kill the driver. Beyond the bound every batch-side join
    # runs unhinted and the planner/AQE pick the strategy. The bounded
    # count doubles as the batch signature materialization the probe
    # join needs anyway (nb is cached).
    small_batch = (
        nb.limit(INCREMENTAL_BROADCAST_BANDS + 1).count()
        <= INCREMENTAL_BROADCAST_BANDS
    )
    hint = F.broadcast if small_batch else (lambda df: df)
    try:
        idx = spark.read.parquet(index_path)
    except AnalysisException as e:
        # an index built from an EMPTY corpus writes only _SUCCESS (no
        # part files), so the read-back cannot infer a schema — the
        # correct probe result against an empty corpus is no candidates.
        # Anything else (typo'd path, corrupted parts, IO/permission
        # errors) must FAIL, not silently admit the batch as dup-free.
        # Match the STRUCTURED error class (getCondition on Spark 4,
        # getErrorClass before), falling back to the message text only
        # when no class is available.
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            getter = getattr(e, attr, None)
            if getter is not None:
                try:
                    cond = getter()
                except Exception:
                    cond = None
                if cond:
                    break
        is_empty_index = (
            cond == "UNABLE_TO_INFER_SCHEMA"
            if cond
            else "Unable to infer schema" in str(e)
        )
        if is_empty_index:
            return spark.createDataFrame(
                [], "new_doc_id long, corpus_doc_id long"
            )
        raise
    if max_bucket_size is not None:
        if "bucket_n" in idx.columns:
            guard_src = idx.select("band", "band_sig", "bucket_n")
        else:
            # an index written before bucket_n existed: derive the corpus
            # bucket populations with a one-off groupBy — one column-
            # pruned (2-key) index scan, paid once per probe call, feeding
            # ONLY the guard decision (the probe join below still reads
            # the raw index) — rather than capping on batch-side
            # population alone, which would readmit exactly the quadratic
            # boilerplate fan-out the cap exists to prevent
            logger.warning(
                "incremental_lsh_candidates: index at %s predates bucket_n; "
                "deriving bucket populations with an extra index scan — "
                "rebuild via write_lsh_index to store them", index_path,
            )
            guard_src = idx.groupBy("band", "band_sig").agg(
                F.count("*").alias("bucket_n")
            )
        batch_buckets = nb.select("band", "band_sig", "nb_n").distinct()
        # deliberately a SEPARATE (column-pruned: 2 keys + bucket_n, no
        # doc ids) index pass, not a residual filter on the probe join:
        # a post-join predicate would still ENUMERATE every row-pair of
        # an oversized bucket before discarding it — 2.5e11 predicate
        # evaluations for one 1M-doc boilerplate bucket — while dropping
        # the bucket pre-join skips that work entirely
        drop_buckets = scoped_cache(
            guard_src.join(hint(batch_buckets), ["band", "band_sig"])
            .where(F.col("bucket_n") + F.col("nb_n") > max_bucket_size)
            .select("band", "band_sig")
            .distinct()
        )
        # eager tiny action (bounded by the batch's bucket count): a
        # capped result must never look complete
        n_dropped = drop_buckets.count()
        if n_dropped:
            logger.warning(
                "incremental_lsh_candidates: dropped %d bucket(s) whose "
                "corpus+batch population exceeds %d docs (boilerplate "
                "guard; cross pairs within them are not emitted)",
                n_dropped, max_bucket_size,
            )
            nb = nb.join(
                hint(drop_buckets), ["band", "band_sig"], "left_anti"
            )
    return (
        idx.alias("c")
        .join(
            hint(nb.select("band", "band_sig", "doc_id").alias("n")),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.band_sig") == F.col("n.band_sig"))
            # a batch doc whose id ALREADY EXISTS in the index (retry
            # re-ingest after a partial failure, id-colliding feed)
            # matches its own index rows on every band; without this
            # conjunct the probe emits a degenerate (X, X) "pair" that
            # lsh_candidate_pairs (doc_a < doc_b) can never produce —
            # breaking the q38-on-the-union equivalence and making
            # survivor-style consumers drop every re-ingested doc as a
            # duplicate of itself
            & (F.col("c.doc_id") != F.col("n.doc_id")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .distinct()
    )


@query(
    "q38_minhash_lsh_pairs",
    oracle=f"""
    WITH {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    {_DUCK_SIG},
    bands AS (SELECT doc_id, k // {BAND_SIZE} AS band,
                     string_agg(CAST(sig AS VARCHAR), ',' ORDER BY k) AS band_sig
              FROM sig GROUP BY doc_id, k // {BAND_SIZE}),
    bok AS (SELECT band, band_sig FROM bands
            GROUP BY band, band_sig HAVING count(*) <= {LSH_MAX_BUCKET}),
    kept AS (SELECT bands.doc_id, bands.band, bands.band_sig
             FROM bands JOIN bok USING (band, band_sig))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM kept a
    JOIN kept b ON a.band = b.band AND a.band_sig = b.band_sig
                AND a.doc_id < b.doc_id
    """,
)
def q38_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on any full band of 4 signatures.

    Scale: one scan computes all 16 signature mins; the band-bucket
    self-join's key (band, band_sig) has near-unique cardinality except
    for true near-dups — no quadratic term anywhere. This is the declared
    100 TB near-dedup strategy; q36 validates its recall.

    The capped band frame comes from the session memo
    (:func:`capped_corpus_bands`), so the five queries composing this
    one (q79, q89, q107, q126 and q38 itself) pay the signature pass and
    the guard's eager drop-count aggregate ONCE per session per sf_dir,
    not once per composing query."""
    return lsh_candidate_pairs(capped_corpus_bands(spark, sf_dir),
                               max_bucket_size=None)


SIMHASH_BITS = 16

_DUCK_SIMHASH = f"""
    docs AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, substr(md5(unnest(toks)), 1, 4) AS h FROM docs),
    bits AS (SELECT doc_id, b,
                    ((strpos('0123456789abcdef', substr(h, b // 4 + 1, 1)) - 1)
                     >> (3 - (b % 4))) & 1 AS bit
             FROM tok CROSS JOIN range(0, {SIMHASH_BITS}) t(b)),
    scores AS (SELECT doc_id, b, sum(2 * bit - 1) AS score FROM bits GROUP BY doc_id, b)
"""


@query(
    "q39_simhash",
    oracle=f"""
    WITH {_DUCK_SIMHASH}
    SELECT doc_id,
           CAST(sum(CASE WHEN score > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash
    FROM scores GROUP BY doc_id
    """,
)
def q39_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: per-token md5 nibbles vote on each bit position,
    frequency-weighted (repeat tokens vote repeatedly). Near-dup docs land
    within small Hamming distance; bucketing by simhash value is the
    constant-cost dedup prefilter at scale."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.explode(tokens_expr()).alias("tok")).select(
        "doc_id", F.substring(F.md5(F.col("tok")), 1, 4).alias("h")
    )
    bits = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
        F.col("h"),
    ).select(
        "doc_id",
        "b",
        F.expr(
            "((instr('0123456789abcdef', substr(h, CAST(b / 4 AS INT) + 1, 1)) - 1) "
            ">> (3 - (b % 4))) & 1"
        ).alias("bit"),
    )
    scores = bits.groupBy("doc_id", "b").agg(F.sum(2 * F.col("bit") - 1).alias("score"))
    return scores.groupBy("doc_id").agg(
        F.sum(F.expr("CASE WHEN score > 0 THEN shiftleft(1, CAST(b AS INT)) ELSE 0 END"))
        .cast("long")
        .alias("simhash")
    )


# Below this many candidate edges the component fixpoint runs as a
# driver-side union-find over the Arrow-collected edge list instead of
# iterated Spark jobs — the same bounded-side dispatch rationale as q120's
# broadcast bound: 1M (a,b) long pairs is ~16 MB via toPandas, far under
# any driver budget, while each DISTRIBUTED round costs 2 shuffles of
# fixed job overhead that dwarfs microsecond union-find at this size.
# LSH dedup graphs are tiny relative to the corpus (pairs ≈ near-dup
# rate × N, and the hot-bucket cap bounds the blow-up), so at 100 TB a
# typical run still dispatches small; a dup-heavy corpus beyond the
# bound takes the unchanged distributed propagation path.
CC_DRIVER_EDGE_BOUND = 1_000_000


def _driver_union_find(a_vals, b_vals) -> dict:
    """Exact min-label components over an in-memory edge list: classic
    union-find with path compression, then each node labeled with the
    min node id of its root's component — identical output contract to
    the distributed propagation loop."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(a_vals, b_vals):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    best: dict = {}
    for n in parent:
        r = find(n)
        if r not in best or n < best[r]:
            best[r] = n
    return {n: best[find(n)] for n in parent}


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 20,
                         driver_edge_bound: int = CC_DRIVER_EDGE_BOUND) -> DataFrame:
    """Connected components by min-label propagation — the canonical
    dedup post-step: near-dup PAIRS (q38) become dedup GROUPS, and
    "keep one doc per component" falls out as min(doc_id) == label.

    .. warning:: The returned frame is QUERY-SCOPED (KNOWN_LIMITS §17):
       on the distributed path it is localCheckpoint-backed, and a
       checkpoint cannot recompute once its blocks are freed at the next
       ``ephemeral.release_caches()`` boundary. Materialize it
       (collect / write) within the same query scope; consuming it later
       fails LOUDLY ("checkpoint block not found") rather than silently
       recomputing — chosen over pinning a node-sized frame per call.

    Kernel choice is a size-based planner `if`, mirroring q120's
    dispatch: a single ``limit(bound+1)`` Arrow collect both measures
    the edge count and, when it fits, IS the input to an exact
    driver-side union-find (:func:`_driver_union_find`) — one Spark
    action total instead of 2 shuffles per propagation round. Beyond
    the bound the unchanged distributed loop runs: each round joins
    current labels across edges and takes the elementwise min,
    terminating when a round changes no label (one count per round).
    Label count is monotone non-increasing, so rounds ≤ graph diameter
    ≤ max_iter for any real dedup graph (components are tiny cliques).

    Scale: state is one (node, label) pair per node; each distributed
    round is one shuffle keyed by node. The 100 TB version is the same
    loop over the alternating small-star/large-star formulation; at
    dedup-graph shapes (diameter ≤ 3) plain propagation converges in
    2-3 rounds. Both kernels emit the identical (node, min-label)
    relation — equality-tested on the real LSH graph.
    """
    # The probe pays the full edge plan regardless (limit short-circuits
    # only the final stage; the shuffles below it run completely), so
    # cache the pair frame FIRST: the under-bound path collects from it
    # once, and the over-bound path's sym union reads the cached blocks
    # instead of recomputing the expensive LSH-pair join twice more.
    pairs = scoped_cache(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    probe = pairs.limit(driver_edge_bound + 1).toPandas()
    if len(probe) <= driver_edge_bound:
        labels = _driver_union_find(probe["a"].tolist(), probe["b"].tolist())
        from pyspark.sql import types as T

        node_t = edges.schema[src].dataType
        pairs.unpersist()  # nothing further reads it on this path
        return edges.sparkSession.createDataFrame(
            sorted(labels.items()),
            T.StructType([
                T.StructField("doc_id", node_t),
                T.StructField("component", node_t),
            ]),
        )
    sym = scoped_cache(
        pairs.unionAll(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
    )
    # seed each node with min(self, direct neighbors) — exactly the state
    # after round 1 of identity-seeded propagation, computed as ONE
    # aggregation over sym (no join), so the loop starts a round ahead
    labels = scoped_cache(
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nmin0"))
        .select("node", F.least(F.col("node"), F.col("nmin0")).alias("label"))
    )
    cached = labels  # the handle actually holding each round's cache
    changed = -1  # sentinel: max_iter <= 0 must hit the fail-fast branch
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nmin"))
        )
        # carry the pre-round label through the merge so the convergence
        # check is a filter over this same frame — not a second
        # new-vs-old join (one fewer shuffle per round).
        # localCheckpoint, not cache: each round's plan references the
        # previous round's join, so without lineage truncation the
        # logical plan grows per iteration and Catalyst re-optimization
        # OOMs the driver by ~10 rounds on long-diameter graphs (same
        # trade as pagerank's loop, iterative.py:197 — blocks are
        # unreplicated executor storage; an executor loss restarts the
        # call).
        merged = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = merged.where(F.col("label") != F.col("old_label")).count()
        # the previous round's frame is dead weight from here — release
        # it NOW (round 1: frees the seed CACHE via unpersist; later
        # rounds: release_local_checkpoint frees the superseded
        # checkpoint's internal-RDD blocks directly — a plain
        # unpersist() is a CacheManager call that NO-OPS on a
        # localCheckpoint, which would leave storage growing with
        # iteration count until a JVM GC lets the ContextCleaner catch
        # up), so live state stays O(1) frames on any graph
        if not release_local_checkpoint(cached):
            cached.unpersist()
        cached = merged
        labels = merged.select("node", "label")
        if changed == 0:
            break
    else:
        # fail-fast, never fail-silent (the engine-wide rule): returning
        # partially-propagated labels would split one true component into
        # several and q89 would keep multiple "representatives" of one
        # dup group. Diameter > max_iter means the graph is not the tiny-
        # clique shape dedup produces — raise with the evidence.
        detail = f"{changed} labels still changing" if changed >= 0 else "no rounds ran"
        raise RuntimeError(
            f"connected_components: {detail} after {max_iter} rounds (graph "
            "diameter exceeds max_iter); raise max_iter or switch to the "
            "small-star/large-star formulation"
        )
    sym.unpersist()
    pairs.unpersist()
    # the final labels checkpoint stays live: it is materialized (the
    # changed-count ran on it) and the caller's first action would
    # otherwise recompute every propagation round from scratch. One
    # bounded DF — registered for the query-boundary release (which is
    # localCheckpoint-aware), so it cannot outlive its query either.
    # LIFETIME CONTRACT: the returned frame is QUERY-SCOPED. A
    # localCheckpoint has no lineage to recompute from, so an action on
    # this frame AFTER the next release_caches() boundary fails loudly
    # ("checkpoint block not found") instead of silently recomputing the
    # fixpoint — materialize (collect/write) before the boundary, which
    # is what the queries() protocol already guarantees.
    scoped_release(cached)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


# NB: the `kept` CTE mirrors the Spark-side LSH_MAX_BUCKET hot-bucket
# guard (lsh_candidate_pairs), so oracle and query stay hash-equal even
# on corpora where the cap actually fires (boilerplate-heavy buckets).
_DUCK_LSH_PAIRS = f"""
    sig2 AS (SELECT doc_id, k, min(({_DUCK_A}[k + 1] * (sid % {MINHASH_P}) + {_DUCK_B}[k + 1])
                    % {MINHASH_P}) AS sig
             FROM sid_sets CROSS JOIN range(0, {N_HASHES}) t(k)
             GROUP BY doc_id, k),
    bands AS (SELECT doc_id, k // {BAND_SIZE} AS band,
                     string_agg(CAST(sig AS VARCHAR), ',' ORDER BY k) AS band_sig
              FROM sig2 GROUP BY doc_id, k // {BAND_SIZE}),
    bok AS (SELECT band, band_sig FROM bands
            GROUP BY band, band_sig HAVING count(*) <= {LSH_MAX_BUCKET}),
    kept AS (SELECT bands.doc_id, bands.band, bands.band_sig
             FROM bands JOIN bok USING (band, band_sig)),
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM kept a
              JOIN kept b ON a.band = b.band AND a.band_sig = b.band_sig
                          AND a.doc_id < b.doc_id)
"""


@query(
    "q79_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    {_DUCK_LSH_PAIRS},
    nodes AS (SELECT doc_a AS n FROM pairs UNION SELECT doc_b FROM pairs),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, r) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
    )
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
)
def q79_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup groups: LSH candidate pairs (q38) clustered into connected
    components (component id = min doc_id — also the keep-policy). The
    oracle computes the same fixpoint with a recursive CTE, so the whole
    iterative pipeline — shingle → MinHash → LSH bands → label
    propagation — is hash-verified end to end."""
    pairs = q38_minhash_lsh_pairs(spark, sf_dir)
    return connected_components(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@query(
    "q89_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    {_DUCK_LSH_PAIRS},
    nodes AS (SELECT doc_a AS n FROM pairs UNION SELECT doc_b FROM pairs),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, r) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
    ),
    comp AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node)
    SELECT d.doc_id, d.lang FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM comp c
                      WHERE c.doc_id = d.doc_id AND c.doc_id <> c.component)
    """,
)
def q89_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual deliverable: the surviving corpus.
    Every near-dup component (q79) keeps exactly one representative —
    min doc_id, the conventional keep-first policy — and all other
    members are anti-joined away from ``documents``.

    Scale: the drop list is small when near-dup rates are low but
    SF-PROPORTIONAL on a dup-heavy corpus, so it carries no broadcast
    hint (a hint is unconditional): the strategy is planned from the
    frame's actual size — broadcast while tiny (one map-side filter over
    the corpus scan, no corpus shuffle), a shuffled anti-join when a
    dup-heavy corpus outgrows it."""
    docs = load_table(spark, "documents", sf_dir)
    comp = q79_dedup_components(spark, sf_dir)
    drop = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang")


# Shared by q91 (plain broadcast join) and q108 (Bloom-prefiltered):
# both compute the EXACT same answer, so both hash against this oracle.
_DUCK_DECON_ORACLE = f"""
    WITH {_DUCK_SHINGLE_SETS},
    probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    rest AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
    SELECT r.doc_id,
           CAST(count(*) AS BIGINT)        AS n_shingles,
           CAST(count(p.shingle) AS BIGINT) AS n_hit,
           count(p.shingle) / count(*)      AS contamination
    FROM rest r LEFT JOIN probe p ON r.shingle = p.shingle
    GROUP BY r.doc_id
    """


@query("q91_decontamination", oracle=_DUCK_DECON_ORACLE)
def q91_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs whose id is divisible by 97 stand
    in for an eval/benchmark corpus; every remaining training doc is
    scored by the fraction of its distinct word-3-gram shingles that
    also occur in the benchmark set (the standard n-gram-overlap
    contamination check run before LLM training).

    Scale: the probe side is the benchmark corpus — tiny next to 100 TB
    of training data — so its distinct-shingle set broadcasts and the
    whole check is one map-side left join + per-doc aggregation (single
    shuffle on doc_id). Integer-count ratio keeps the score bit-identical
    across engines."""
    sh = shingle_sets(spark, sf_dir)
    probe = (
        sh.where(F.col("doc_id") % 97 == 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    rest = sh.where(F.col("doc_id") % 97 != 0)
    return (
        rest.join(F.broadcast(probe), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_hit"),
            (F.count("hit") / F.count("*")).alias("contamination"),
        )
    )


@query(
    "q100_shingle_containment",
    oracle=f"""
    WITH {_DUCK_SHINGLE_SETS},
    stats AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT)                              AS n_shingles,
           CAST(count(*) FILTER (WHERE stats.n_docs >= 2) AS BIGINT)
                                                                 AS n_shared,
           CAST(count(*) FILTER (WHERE stats.n_docs >= 2) AS DOUBLE)
             / count(*)                                          AS containment
    FROM sh JOIN stats USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def q100_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (substring-level) duplication signal: for each doc,
    the fraction of its distinct word-3-gram shingles that ALSO occur in
    at least one other document. This is the scalable approximation of
    suffix-array substring dedup used to spot partially-copied documents
    that whole-doc dedup (q35) and near-dup pairing (q38) both miss —
    containment → 1 means the doc is assembled from corpus-repeated
    spans even when no single partner doc is similar.

    Score is (int FILTER count) / (int count) — exact in both engines.

    Scale: one shuffle to distinct (doc, shingle), one partial-aggregated
    count keyed by shingle, one join back on shingle (AQE handles hot
    boilerplate shingles), one doc_id aggregation. No pairwise term
    anywhere — corpus-linear where true substring dedup is superlinear."""
    sh = shingle_sets(spark, sf_dir)
    stats = sh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    j = sh.join(stats, "shingle")
    shared = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast("long")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        shared.alias("n_shared"),
        (shared.cast("double") / F.count("*")).alias("containment"),
    )


def triangle_count_degree_ordered(pairs: DataFrame, deg: DataFrame) -> DataFrame:
    """Exact triangle count over an undirected edge list (``doc_a`` <
    ``doc_b`` rows, ``deg`` = (n, d) node degrees) using DEGREE-ORDER
    edge orientation: every edge points from its lower-(degree, id)
    endpoint to the higher one, wedges fan out from each node's
    OUT-neighbors only, and each triangle is counted exactly once at its
    minimum-rank vertex. Out-degree under this orientation is bounded by
    O(√|E|) for ANY degree distribution (a node of degree d > √|E| has
    out-edges only to nodes of degree ≥ d, and there are < √|E| of
    those), so per-node wedge fan-out stays bounded even on power-law
    graphs where id-order orientation lets one hot node generate O(d²)
    wedges. This is the 100 TB orientation; the DuckDB oracle counts
    triangles with the plain id-order join — same total by symmetry —
    and the id-order/degree-order equality is also pinned in tests.

    Scale: two bounded joins attach degrees to endpoints (degree table ≤
    node count), then two equi-join shuffles enumerate wedges and close
    them, exactly the join count of the id-order form — only the
    fan-out bound changes."""
    da = deg.select(F.col("n").alias("doc_a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("doc_b"), F.col("d").alias("db"))
    ranked = pairs.join(da, "doc_a").join(db, "doc_b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    edges = scoped_cache(
        ranked.select(
            F.when(lower_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(lower_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
            F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dst_d"),
        )
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    # wedges (v, w) out of each src, ordered v before w by (degree, id)
    # rank — so the closing edge, if present, is oriented exactly (v, w)
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            (F.col("e1.dst_d") < F.col("e2.dst_d"))
            | (
                (F.col("e1.dst_d") == F.col("e2.dst_d"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            )
        ),
    ).select(F.col("e1.dst").alias("v"), F.col("e2.dst").alias("w"))
    closing = edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(closing, ["v", "w"]).agg(F.count("*").alias("n_triangles"))


@query(
    "q107_dedup_triangles",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    {_DUCK_LSH_PAIRS},
    deg AS (SELECT n, count(*) AS d FROM (
                SELECT doc_a AS n FROM pairs
                UNION ALL SELECT doc_b FROM pairs) GROUP BY n),
    tri AS (SELECT count(*) AS t
            FROM pairs e1
            JOIN pairs e2 ON e2.doc_a = e1.doc_b
            JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT)               AS n_nodes,
           CAST((SELECT count(*) FROM pairs) AS BIGINT)             AS n_edges,
           CAST((SELECT sum(d * (d - 1) / 2) FROM deg) AS BIGINT)   AS n_wedges,
           CAST((SELECT t FROM tri) AS BIGINT)                      AS n_triangles,
           CASE WHEN (SELECT sum(d * (d - 1) / 2) FROM deg) > 0
                THEN 3.0 * (SELECT t FROM tri)
                     / (SELECT sum(d * (d - 1) / 2) FROM deg)
                ELSE 0.0 END                                        AS clustering
    """,
)
def q107_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup candidate graph (q38's LSH pairs):
    n_nodes/n_edges/n_wedges/n_triangles and the global clustering
    coefficient 3·triangles/wedges. High clustering means LSH candidates
    form tight cliques (true dup groups); low clustering means chains of
    borderline pairs — a standard health check on a dedup run before
    committing to component-collapse (q79).

    Scale: triangle counting runs on the DEGREE-ORDERED orientation
    (:func:`triangle_count_degree_ordered` — per-node wedge fan-out
    bounded by O(√|E|) under any skew, the 100 TB form); wedge counts
    are one degree aggregation. The oracle counts the identical total
    via the id-order join (orientation cannot change the count). The
    clustering ratio is an exact IEEE division of two
    identically-computed integers, so it hashes identically across
    engines."""
    pairs = scoped_cache(q38_minhash_lsh_pairs(spark, sf_dir))
    deg = scoped_cache(
        pairs.select(F.col("doc_a").alias("n"))
        .unionAll(pairs.select(F.col("doc_b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    wedge_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    tri = triangle_count_degree_ordered(pairs, deg)
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    out = (
        wedge_stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
    return out


BLOOM_K = 4  # hash functions; with m = 32·n bits, FP rate ≈ (1-e^(-1/8))^4 ≈ 2e-4
# Driver-side bitmap bound: the build collects the probe's bit positions
# and allocates m bool bytes on the driver (32·n_probe). 16M shingles →
# 512 Mbit map, 64 MB packed broadcast, ~0.5 GB transient build — the
# ceiling of sane; beyond it q108 fails loudly (see its guard).
BLOOM_MAX_PROBE = 16_000_000


# q108's oracle mirrors its SID-level semantics — the module's stated
# collision invariant ("both engines hash identically so even a collision
# cannot cause an oracle mismatch", the q36/q37/q38 discipline). q108
# used to share q91's STRING-level oracle, which left it the one dedup
# query where a cross-string sid collision (P ≈ N²/2⁶¹, nonzero at
# corpus scale) would diverge engine-from-oracle undetectably; absent
# collisions (every shipped SF) the two oracles give identical rows, so
# q108 and q91 remain value-identical twins.
_DUCK_DECON_SID_ORACLE = f"""
    WITH {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    probe AS (SELECT DISTINCT sid FROM sid_sets WHERE doc_id % 97 = 0),
    rest AS (SELECT doc_id, sid FROM sid_sets WHERE doc_id % 97 <> 0)
    SELECT r.doc_id,
           CAST(count(*) AS BIGINT)     AS n_shingles,
           CAST(count(p.sid) AS BIGINT) AS n_hit,
           count(p.sid) / count(*)      AS contamination
    FROM rest r LEFT JOIN probe p ON r.sid = p.sid
    GROUP BY r.doc_id
    """


@query("q108_bloom_decontaminate", oracle=_DUCK_DECON_SID_ORACLE)
def q108_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination — q91's scale path, same exact
    answer on any collision-free corpus (its oracle derives the same
    60-bit sids, so even a sid collision is mirrored engine-to-engine —
    the q36/q37/q38 invariant). The probe corpus's shingle ids
    are folded into a Bloom bitmap (k=4 seeded xxhash64 positions, m=32·n
    bits); training-side shingles gather their 4 bits from the broadcast
    bitmap (vectorized numpy, Arrow-batched) and only the might-contain
    survivors — true hits plus ~2e-4 false positives — enter the exact
    broadcast join that q91 runs on every row. Bloom filters have no
    false negatives, so the verified result is exactly q91's.

    Scale: at 100 TB the join input shrinks from every (doc, shingle) row
    to contamination-rate × corpus, while the bitmap (m/8 bytes; ~4 MB for
    a 1M-shingle benchmark suite) broadcasts once per executor instead of
    a per-task hashed relation. The one driver action (count of the probe
    set) scans only the benchmark corpus — tiny by premise — to size m
    deterministically."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    sh = shingle_id_sets(spark, sf_dir)
    probe = scoped_cache(sh.where(F.col("doc_id") % 97 == 0).select("sid").distinct())
    rest = sh.where(F.col("doc_id") % 97 != 0)

    n_probe = probe.count()
    # The tiny-by-premise probe is ENFORCED, not assumed: the bitmap
    # build collects the probe's bit positions and allocates m bool
    # bytes driver-side, both linear in n_probe — sound for a benchmark
    # suite (≤ millions of shingles, the premise every decontamination
    # run satisfies), driver-OOM for a corpus-fraction probe like this
    # query's %97 STAND-IN at 100 TB. Fail loudly with the remedy
    # instead of dying in np.zeros.
    if n_probe > BLOOM_MAX_PROBE:
        raise ValueError(
            f"q108: probe set has {n_probe} distinct shingles, over the "
            f"{BLOOM_MAX_PROBE} bound the driver-built bitmap supports — "
            "decontamination probes are external benchmark suites by "
            "premise; for corpus-scale probes use q91's join formulation"
        )
    m = 1 << max(13, (32 * max(n_probe, 1) - 1).bit_length())

    def positions(col):  # k seeded positions, identical JVM expr both sides
        return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(BLOOM_K)]

    # bit-PACKED bitmap (uint8, m/8 bytes — np.bool_ would be one byte
    # per bit, 8× the documented broadcast footprint)
    bits = np.zeros(m, dtype=bool)
    # Arrow fetch + numpy fancy-index, NOT .collect(): at the allowed
    # bound (BLOOM_MAX_PROBE shingles × k positions) collect() would
    # materialize tens of millions of driver-side Row objects plus a
    # Python list — several GB inside the region the n_probe guard
    # declares safe; the Arrow path holds one int64 array (~0.5 GB worst
    # case), keeping the guard's documented transient-build ceiling true
    pos = (
        probe.select(F.explode(F.array(*positions(F.col("sid")))).alias("p"))
        .distinct()
        .toPandas()["p"]
        .to_numpy(dtype="int64")
    )
    bits[pos] = True
    # boundary-released (see ephemeral.scoped_broadcast): the bitmap
    # would otherwise pin its executor copies until a JVM GC
    b_bits = scoped_broadcast(spark.sparkContext.broadcast(np.packbits(bits)))

    def _might_contain(p0, p1, p2, p3):
        bm = b_bits.value  # packed: bit p lives at byte p>>3, lane 7-(p&7)

        def probe_bits(s):
            p = s.to_numpy()
            return (bm[p >> 3] >> (7 - (p & 7))) & 1

        return pd.Series(
            (probe_bits(p0) & probe_bits(p1) & probe_bits(p2) & probe_bits(p3)) == 1
        )

    # Series→Series eval type via REAL type objects assigned to
    # __annotations__: inline hints are stringified by `from __future__
    # import annotations` and pandas_udf's get_type_hints() would then
    # evaluate "pd.Series" in MODULE globals, where pd is not imported
    # (it lives in this function's scope). The legacy functionType form
    # (PandasUDFType.SCALAR) this replaces is deprecated (SPARK-28264).
    _might_contain.__annotations__ = {
        "p0": pd.Series, "p1": pd.Series, "p2": pd.Series,
        "p3": pd.Series, "return": pd.Series,
    }
    might_contain = pandas_udf(_might_contain, "boolean")

    flagged = rest.where(might_contain(*positions(F.col("sid"))))
    hits = (
        flagged.join(F.broadcast(probe.withColumn("hit", F.lit(1))), "sid", "left")
        .where(F.col("hit") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    totals = rest.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_shingles")
            ).alias("contamination"),
        )
    )


# q112's eval sample: a FIXED COUNT of docs chosen by md5-rank (q84's
# stratified-rank machinery, unstratified), NOT a fixed fraction — the
# exact-Jaccard truth join inside the sample is O(EVAL_SAMPLE_N²)
# regardless of corpus size, so the declared eval stays O(1) work at
# 100 TB where a 25% slice would still be 25 TB of quadratic truth work.
EVAL_SAMPLE_N = 400

def _duck_pr_tail(cand_cte: str) -> str:
    """The compare-and-ratio SQL tail (full-outer truth-vs-candidate
    join, counts, zero-denominator conventions) with the candidate CTE
    name as the only variable — ONE definition shared by the q112
    oracle (``apairs``) and the full referee (``pairs``), mirroring
    :func:`_pr_compare` on the Spark side."""
    return f"""
    j AS (SELECT count(*) FILTER (t.doc_a IS NOT NULL AND p.doc_a IS NOT NULL) AS n_hit,
                 count(*) FILTER (t.doc_a IS NOT NULL) AS n_truth,
                 count(*) FILTER (p.doc_a IS NOT NULL) AS n_cand
          FROM truth t FULL OUTER JOIN {cand_cte} p
               ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b)
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_cand AS BIGINT)  AS n_candidates,
           CAST(n_hit AS BIGINT)   AS n_hit,
           CASE WHEN n_cand > 0 THEN CAST(n_hit AS DOUBLE) / n_cand ELSE 0.0 END
               AS precision,
           CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / n_truth ELSE 0.0 END
               AS recall
    FROM j
"""


_DUCK_LSH_QUALITY_TAIL = f"""
    cnt AS (SELECT doc_id, count(*) AS n FROM sid_sets GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM sid_sets a JOIN sid_sets b ON a.sid = b.sid AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    truth AS (SELECT doc_a, doc_b FROM inter
              JOIN cnt ca ON ca.doc_id = doc_a
              JOIN cnt cb ON cb.doc_id = doc_b
              WHERE CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) >= {JACCARD_T}),
    {_duck_pr_tail("pairs")}
"""

# full-corpus referee oracle (test-only — no declared query runs this)
_DUCK_LSH_QUALITY_FULL = f"""
    WITH RECURSIVE {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    {_DUCK_LSH_PAIRS},{_DUCK_LSH_QUALITY_TAIL}
"""


def _pr_compare(truth: DataFrame, cand: DataFrame) -> DataFrame:
    """One-row precision/recall report from a truth-pair frame
    (doc_a, doc_b) and a candidate-pair frame (cand_a, cand_b) — THE
    single definition of the compare-and-ratio tail, shared by the
    anchored q112, the fraction variant, and the full referee."""
    j = truth.join(
        cand,
        (F.col("doc_a") == F.col("cand_a")) & (F.col("doc_b") == F.col("cand_b")),
        "full_outer",
    )
    agg = j.agg(
        F.count(
            F.when(F.col("doc_a").isNotNull() & F.col("cand_a").isNotNull(), 1)
        ).alias("n_hit"),
        F.count(F.when(F.col("doc_a").isNotNull(), 1)).alias("n_truth"),
        F.count(F.when(F.col("cand_a").isNotNull(), 1)).alias("n_candidates"),
    )
    return agg.select(
        "n_truth",
        "n_candidates",
        "n_hit",
        F.when(
            F.col("n_candidates") > 0,
            F.col("n_hit").cast("double") / F.col("n_candidates"),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
        F.when(
            F.col("n_truth") > 0, F.col("n_hit").cast("double") / F.col("n_truth")
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
    )


def _lsh_quality_report(docs: DataFrame) -> DataFrame:
    """P/R of the LSH candidate rule vs exact Jaccard ≥ t ground truth,
    over an arbitrary (doc_id, text) frame — the WITHIN-FRAME form: a
    pair is in the eval iff BOTH endpoints are in the frame (used by
    the full-corpus referee and the fraction variant; the declared q112
    uses the anchored form, which keeps truth mass non-vanishing under
    a fixed-size sample)."""
    sh = scoped_cache(shingle_id_sets_from(docs))
    truth = _jaccard_truth_pairs(sh).select("doc_a", "doc_b")
    cand = lsh_candidate_pairs(band_signatures_from(docs)).select(
        F.col("doc_a").alias("cand_a"), F.col("doc_b").alias("cand_b")
    )
    return _pr_compare(truth, cand)


def eval_sample_docs(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Deterministic FIXED-SIZE document sample: the ``n`` docs with the
    smallest (md5(doc_id), doc_id) rank — q84's md5-rank machinery,
    unstratified. Membership depends only on doc_id and ``n``; stable
    across runs, layouts, and engines.

    Scale: the rank window runs over a SLIM (doc_id-only) projection —
    WindowGroupLimit keeps ≤ n rows per map task before the single
    merge — and the surviving id list (≤ n rows, O(1) in corpus size by
    construction) broadcast-joins back to the full rows. No corpus-wide
    shuffle of document text anywhere."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    w = Window.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    keep = (
        docs.select("doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n)
        .select("doc_id")
    )
    return docs.join(F.broadcast(keep), "doc_id")


@query(
    "q112_lsh_quality",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    {_DUCK_LSH_PAIRS},
    anchors AS (SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS _rk
        FROM documents) WHERE _rk <= {EVAL_SAMPLE_N}),
    cnt AS (SELECT doc_id, count(*) AS n FROM sid_sets GROUP BY 1),
    ash AS (SELECT s.doc_id, s.sid FROM sid_sets s
            JOIN anchors a ON a.doc_id = s.doc_id),
    inter AS (SELECT x.doc_id AS ad, b.doc_id AS bd, count(*) AS n_inter
              FROM ash x JOIN sid_sets b
                   ON x.sid = b.sid AND x.doc_id <> b.doc_id
              GROUP BY 1, 2),
    truth AS (SELECT DISTINCT least(ad, bd) AS doc_a,
                              greatest(ad, bd) AS doc_b
              FROM inter
              JOIN cnt ca ON ca.doc_id = ad
              JOIN cnt cb ON cb.doc_id = bd
              WHERE CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter)
                    >= {JACCARD_T}),
    apairs AS (SELECT p.doc_a, p.doc_b FROM pairs p
               WHERE p.doc_a IN (SELECT doc_id FROM anchors)
                  OR p.doc_b IN (SELECT doc_id FROM anchors)),
    {_duck_pr_tail("apairs")}
    """,
)
def q112_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning report: precision/recall of the MinHash-LSH candidate
    rule (q38, the 100 TB path) against exact Jaccard ≥ 0.5 ground
    truth (q36's semantics) — the evaluation every dedup rollout runs
    before trusting banding parameters at scale. One row: truth/
    candidate/hit counts and the two ratios (exact integer division,
    bit-stable across engines).

    ANCHORED FIXED-SIZE SAMPLE (round 4): the EVAL_SAMPLE_N = 400
    documents with the smallest md5-rank (:func:`eval_sample_docs`) are
    the eval ANCHORS; the eval covers every pair with AT LEAST ONE
    anchored endpoint — truth pairs come from an anchor-vs-CORPUS exact
    Jaccard probe, candidates are q38's full-corpus LSH pairs (the
    memoized capped bands — the eval audits exactly the rule that
    ships) restricted to anchored pairs. Why anchored rather than
    within-sample: a fixed-size WITHIN-sample eval is statistically
    degenerate at scale — the chance both endpoints of a dup pair land
    in 400 fixed docs vanishes as the corpus grows, so truth mass → 0
    and the ratios go 0/0 — while each anchor finds its true dups
    corpus-wide, keeping expected truth mass at 400 × per-doc dup rate
    at ANY corpus size. This is the standard ANN/LSH recall protocol:
    sampled queries, full-corpus ground truth.

    Scale: no quadratic term anywhere — the anchors' shingle set
    (bounded by EVAL_SAMPLE_N × shingles/doc, ~150k rows) broadcasts
    into a map-side probe of the corpus shingle scan (q91's
    decontamination shape), the per-doc count table is one linear
    aggregation, and the candidate filter is two broadcast lookups of
    the 400-id anchor list. The full-corpus eval remains the test-only
    referee (`lsh_quality_full`); the mid-scale fraction form survives
    as :func:`lsh_quality_fraction`."""
    anchors = scoped_cache(
        eval_sample_docs(spark, sf_dir, EVAL_SAMPLE_N).select("doc_id")
    )
    # corpus shingle frame: deliberately UNCACHED — pinning a
    # corpus-sized exploded frame in executor storage is what the cache
    # hygiene rules exist to prevent at 100 TB; its two consumers (the
    # count table and the probe scan) each recompute from the columnar
    # scan instead. A deployment running many evals would persist
    # (doc_id, sid) once as parquet.
    sh = shingle_id_sets(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # anchors' shingles: the broadcast anchor-id list is pushed into its
    # OWN documents scan (map-side semi filter), so the anchored side
    # never touches the corpus-wide shingle frame — bounded by
    # EVAL_SAMPLE_N × shingles/doc, safe to hint at any corpus size
    # (q91's broadcast-probe pattern)
    ash = shingle_id_sets_from(
        load_table(spark, "documents", sf_dir).join(F.broadcast(anchors), "doc_id")
    )
    inter = (
        F.broadcast(ash.alias("x"))
        .join(
            sh.alias("b"),
            (F.col("x.sid") == F.col("b.sid"))
            & (F.col("x.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    truth = (
        _jaccard_filter(inter, cnt)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    pairs = lsh_candidate_pairs(
        capped_corpus_bands(spark, sf_dir), max_bucket_size=None
    )
    fa = anchors.select(F.col("doc_id").alias("doc_a"), F.lit(1).alias("in_a"))
    fb = anchors.select(F.col("doc_id").alias("doc_b"), F.lit(1).alias("in_b"))
    cand = (
        pairs.join(F.broadcast(fa), "doc_a", "left")
        .join(F.broadcast(fb), "doc_b", "left")
        .where(F.col("in_a").isNotNull() | F.col("in_b").isNotNull())
        .select(F.col("doc_a").alias("cand_a"), F.col("doc_b").alias("cand_b"))
    )
    return _pr_compare(truth, cand)


def lsh_quality_fraction(
    spark: SparkSession, sf_dir: str, buckets: int = 4
) -> DataFrame:
    """Mid-scale variant of q112: evaluate WITHIN a deterministic
    md5-bucket FRACTION (1/buckets) of the corpus — q83's hash-sample
    machinery, pushed to the scan; a pair is in the eval iff both
    endpoints land in the slice. Useful when the corpus is small enough
    that a proportional within-slice eval is affordable; the declared
    q112 uses the ANCHORED fixed-size sample instead, because this
    form's truth join still scales quadratically with the corpus (at
    1/b sampling, (N/b)² work)."""
    from mapreduce_framework_simple_spark.operators.sampling import hash_bucket

    docs = load_table(spark, "documents", sf_dir).where(
        hash_bucket(F.col("doc_id"), buckets) == 0
    )
    return _lsh_quality_report(docs)


def lsh_quality_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-only full-corpus referee for q112 (quadratic by design —
    never a declared query; oracle: ``_DUCK_LSH_QUALITY_FULL``)."""
    return _lsh_quality_report(load_table(spark, "documents", sf_dir))


@query(
    "q126_source_copy_matrix",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLE_SETS},
    {_DUCK_SID_SETS_TAIL},
    {_DUCK_LSH_PAIRS},
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(a.source, b.source)    AS source_a,
           greatest(a.source, b.source) AS source_b,
           CAST(count(*) AS BIGINT)     AS n_pairs
    FROM pairs p
    JOIN src a ON a.doc_id = p.doc_a
    JOIN src b ON b.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def q126_source_copy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup candidate pairs (q38)
    aggregated by unordered source pair — which crawls/feeds copy from
    each other, the provenance report that decides which source to
    down-weight before training. Diagonal entries (same source) measure
    internal redundancy.

    Scale: the doc→source map is one row PER DOCUMENT — unhinted, so
    the planner broadcasts it only while it fits the threshold and joins
    shuffled (on the much smaller pair list) at corpus scale; a hint
    would force an N-row broadcast and OOM exactly where this query is
    supposed to run. Then an aggregation over ≤ sources² keys."""
    pairs = q38_minhash_lsh_pairs(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "q127_boilerplate_shingles",
    oracle=f"""
    WITH {_DUCK_SHINGLE_SETS},
    j AS (SELECT sh.shingle, d.source
          FROM sh JOIN documents d ON d.doc_id = sh.doc_id),
    agg AS (SELECT shingle,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources
            FROM j GROUP BY shingle)
    SELECT shingle, n_docs, n_sources
    FROM agg WHERE n_sources >= 5
    """,
)
def q127_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: word-3-gram shingles appearing across ≥5
    distinct sources — headers, navigation chrome, license blurbs; the
    template text a curation pipeline strips BEFORE dedup so boilerplate
    doesn't glue unrelated documents into one near-dup component
    (complements q100, which scores within-corpus containment per doc).

    Scale: explode + one (shingle) aggregation with map-side partials;
    the distinct-source count per shingle is bounded by the source
    catalog. The output is the strip-list — small enough to broadcast
    into the cleaning pass."""
    sh = shingle_sets(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    # per-document map: unhinted (the q126 rule) — broadcast under the
    # threshold, shuffled join at corpus scale
    return (
        sh.join(src, "doc_id")
        .groupBy("shingle")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .where(F.col("n_sources") >= 5)
    )

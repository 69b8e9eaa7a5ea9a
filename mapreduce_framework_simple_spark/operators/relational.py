"""Relational operator surface (SURVEY.md §2.3, bulk of phase 2).

The reference has NO relational layer — every one of these capabilities
exists there only as "you could write it inside the mapper closure"
(joins/windows/sorts/set-ops all absent from Simple.pm; aggregation is the
hand-written partial+final pattern of t/01_basic.t:17-39). Here each is a
declarative DataFrame pipeline so Catalyst provides pushdown, pruning,
join planning and whole-stage codegen, and AQE re-plans at runtime.

Scale notes are attached per query: which side broadcasts, where the
shuffles are, and why the plan survives 1000 executors × 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_simple_spark.ephemeral import memo_stat, size_gate
from mapreduce_framework_simple_spark.registry import query
from mapreduce_framework_simple_spark.sources.io import load_table


# --------------------------------------------------------------------------
# Exact money aggregation — order- and PLAN-independent hashed floats.
#
# 2-dp money/ratio columns (prices, discounts, event values) are not
# binary-representable, so a float sum accumulates rounding in
# partition/row order: the result is bit-identical to the oracle only
# while Spark's accumulation order happens to match DuckDB's sequential
# scan — and even a JOIN STRATEGY change reorders rows (removing q05's
# broadcast hint flipped its revenue by 1 ULP). Every hashed money
# aggregate therefore sums EXACT integer cents in decimal(38,0)
# (HUGEINT on the oracle side — the q128 discipline, so nothing wraps),
# and converts ONCE to double at the end: the integer sum is exact under
# any order, and int→double conversion is deterministic IEEE rounding in
# both engines. Quantities (integral doubles) and int sums are exact
# as-is and stay plain.
# --------------------------------------------------------------------------

def cents(col: str) -> Column:
    """Exact integer cents of a 2-dp column, decimal(38,0)."""
    return F.round(F.col(col) * 100).cast("decimal(38,0)")


def cents_l(col: str) -> Column:
    """Exact integer cents as a long — for small in-row factors
    (discount/tax percentages) that multiply a decimal."""
    return F.round(F.col(col) * 100).cast("long")


def duck_cents(col: str) -> str:
    return f"CAST(round({col} * 100) AS HUGEINT)"


def duck_cents_l(col: str) -> str:
    return f"CAST(round({col} * 100) AS BIGINT)"


# q07's broadcast hint is honored at any size once attached, so it is
# attached only under this row bound. Pruned q07 part rows are ~30 B (key
# + brand + size): 1M rows ≈ 30 MB, under the session's 64 MB broadcast
# threshold. The gate is memoized per input (ephemeral.memo_stat); a
# stale value can change the join strategy, never the rows. Only a
# scan-backed dim gates cheaply: LocalLimit cannot cap an aggregation
# below it, so an agg-derived dim takes its statistic from its own
# cached materialization (text._lm_table_stats).
DIM_BROADCAST_ROW_BOUND = 1_000_000


def _dim_gate(p: DataFrame, sf_dir: str, bound: int):
    """q07's :func:`size_gate` of the filtered dim ``p``, memoized."""
    return memo_stat(("dim_rows", bound), p, sf_dir, lambda: size_gate(p, bound))


# --------------------------------------------------------------------------
# Aggregation (partial+final is Catalyst-automatic; ≙ reference's
# hand-written mapper/reducer aggregation, t/01_basic.t:17-39)
# --------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum({duck_cents('l_extendedprice')}) AS DOUBLE) / 100
               AS sum_base_price,
           CAST(sum({duck_cents('l_extendedprice')}
                    * (100 - {duck_cents_l('l_discount')})) AS DOUBLE) / 10000
               AS sum_disc_price,
           CAST(sum({duck_cents('l_extendedprice')}
                    * (100 - {duck_cents_l('l_discount')})
                    * (100 + {duck_cents_l('l_tax')})) AS DOUBLE) / 1000000
               AS sum_charge,
           avg(l_quantity) AS avg_qty,
           CAST(sum({duck_cents('l_extendedprice')}) AS DOUBLE)
               / (100 * count(*)) AS avg_price,
           CAST(sum({duck_cents('l_discount')}) AS DOUBLE)
               / (100 * count(*)) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary. One shuffle, 6 groups.

    Scale: partial aggregation collapses each scan partition to ≤6 rows
    before the shuffle, so the exchange moves KBs regardless of input TBs.
    Predicate and the 7-column projection push into the parquet scan.
    """
    li = load_table(spark, "lineitem", sf_dir)
    price_c = cents("l_extendedprice")
    disc_pct = 100 - cents_l("l_discount")  # exact (100−d¢) integer factor
    tax_pct = 100 + cents_l("l_tax")
    n = F.count("*")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantities are integral doubles — float sums of integers are
            # exact in any order, no cents needed
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100).alias("sum_base_price"),
            (F.sum(price_c * disc_pct).cast("double") / 10000).alias(
                "sum_disc_price"
            ),
            (F.sum(price_c * disc_pct * tax_pct).cast("double") / 1000000).alias(
                "sum_charge"
            ),
            F.avg("l_quantity").alias("avg_qty"),
            (F.sum(price_c).cast("double") / (100 * n)).alias("avg_price"),
            (F.sum(cents("l_discount")).cast("double") / (100 * n)).alias(
                "avg_disc"
            ),
            n.alias("count_order"),
        )
    )


@query(
    "q02_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_quantity * 0.5                   AS half_qty
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      AND l_returnflag = 'R'
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-level projection + conjunctive predicate; zero shuffles.

    Scale: everything pushes to the scan (PushedFilters on discount/
    quantity/returnflag; ReadSchema limited to 6 columns)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.where(
            F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
            & (F.col("l_returnflag") == "R")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            (F.col("l_quantity") * 0.5).alias("half_qty"),
        )
    )


@query(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT CAST(sum({duck_cents('l_extendedprice')}
                    * {duck_cents_l('l_discount')}) AS DOUBLE) / 10000 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-style single-row global aggregate; no group keys at all —
    partials reduce to one row per partition, final merge on one task."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents("l_extendedprice") * cents_l("l_discount")).cast("double")
             / 10000).alias("revenue")
        )
    )


@query(
    "q10_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)      AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q11_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum({duck_cents('l_extendedprice')}) AS DOUBLE) / 100
               AS sum_price,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q11_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over both dimensions (all 4 grouping sets)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.cube("l_returnflag", "l_linestatus").agg(
        (F.sum(cents("l_extendedprice")).cast("double") / 100).alias("sum_price"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q12_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           CAST(count(*) AS BIGINT)                  AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q12_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (Catalyst expands to a two-phase plan).

    The HLL variant (`approx_count_distinct`) is declared separately as
    q45 with a rows-only check — sketches are not hash-comparable across
    engines."""
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_custs"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q23_agg_stats",
    oracle=f"""
    WITH s AS (SELECT l_returnflag,
                      CAST(count(*) AS BIGINT) AS n,
                      sum({duck_cents('l_quantity')})       AS s1,
                      sum({duck_cents('l_quantity')}
                          * {duck_cents_l('l_quantity')})   AS s2,
                      min(l_extendedprice) AS min_price,
                      max(l_extendedprice) AS max_price,
                      sum({duck_cents('l_discount')})       AS sd
               FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1) / 10000) AS sd_qty,
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1) / 10000  AS var_qty,
           min_price, max_price,
           CAST(sd AS DOUBLE) / (100 * n) AS avg_disc,
           n AS n_rows
    FROM s
    """,
)
def q23_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev/variance + min/max/avg).

    Determinism: built-in stddev_samp/var_samp merge Welford partials in
    engine- and partition-specific order (the q59 rule: never hash
    co-moment aggregates unrounded); here variance is computed from
    EXACT integer-cent sums (n, Σq¢, Σq¢²) with the identical float
    formula in both engines — order/plan-independent. min/max and counts
    are order-free as-is."""
    li = load_table(spark, "lineitem", sf_dir)
    q_c = cents("l_quantity")
    n = F.count("*")
    s1 = F.sum(q_c).cast("double")
    s2 = F.sum(q_c * cents_l("l_quantity")).cast("double")
    var = (s2 - s1 * s1 / n) / (n - 1) / 10000
    return li.groupBy("l_returnflag").agg(
        F.sqrt(var).alias("sd_qty"),
        var.alias("var_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        (F.sum(cents("l_discount")).cast("double") / (100 * n)).alias("avg_disc"),
        n.alias("n_rows"),
    )


@query("q45_approx_distinct")  # no oracle: HLL sketches differ across engines
def q45_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    distinct-cardinality questions: constant memory per group vs the
    exact variant's per-key state. rsd=0.01 keeps error ~1%."""
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("n_custs_approx")
    )


# --------------------------------------------------------------------------
# Joins (absent from the reference; SURVEY.md §2.3 "Joins")
# --------------------------------------------------------------------------

@query(
    "q03_top_revenue",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           CAST(sum({duck_cents('l.l_extendedprice')}
                    * (100 - {duck_cents_l('l.l_discount')})) AS DOUBLE) / 10000
               AS revenue,
           o.o_orderdate AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q03_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style: filter + 3-way join + agg + deterministic top-10.

    Scale: customer (filtered to 1 segment) is deliberately UNHINTED —
    it is ~1/5 of an SF-proportional table, and an `F.broadcast` hint is
    unconditional (Spark honors it at any size). Unhinted, the strategy
    is the planner's call from its size estimate — conservatively the
    FULL file size for a filtered scan, so an SF-grown customer falls
    back to a shuffle join rather than being force-shipped to every
    executor (the same policy q05's dim side and the text-LM joins
    follow; for agg-derived sides AQE additionally re-plans from true
    runtime sizes at the stage boundary).
    orders⋈lineitem shuffles on orderkey — the one unavoidable shuffle.
    The ORDER BY + LIMIT becomes TakeOrderedAndProject (no global sort)."""
    c = load_table(spark, "customer", sf_dir).where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(li.l_orderkey.alias("orderkey"), o.o_orderdate.alias("orderdate"))
        .agg(
            (F.sum(cents("l_extendedprice") * (100 - cents_l("l_discount")))
             .cast("double") / 10000).alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


@query(
    "q05_join_chain",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(sum({duck_cents('l.l_extendedprice')}
                    * (100 - {duck_cents_l('l.l_discount')})) AS DOUBLE) / 10000
               AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    """,
)
def q05_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star-join chain lineitem→orders→customer→nation→region.

    Scale: region/nation carry explicit broadcast hints (tiny by
    construction — 5/25 rows at every SF); the customer-sized dim side is
    deliberately UNHINTED, because a hint is unconditional — Spark honors
    it at any size. Unhinted, the planner broadcasts only while its size
    estimate (conservatively the full file size) fits the threshold, and
    falls back to a shuffle join beyond it — the safe direction for an
    SF-grown dim. The fact-fact
    lineitem⋈orders shuffle on orderkey dominates and is unavoidable
    without co-bucketing both facts on orderkey (the storage-layout answer
    at 100 TB — see docs/SCALE.md)."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).where(F.col("r_name").isin("ASIA", "EUROPE"))
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dim, o.o_custkey == dim.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(cents("l_extendedprice") * (100 - cents_l("l_discount")))
             .cast("double") / 10000).alias("revenue")
        )
    )


@query(
    "q07_broadcast_brand",
    oracle=f"""
    SELECT p.p_brand AS brand,
           sum(l.l_quantity)        AS sum_qty,
           CAST(sum({duck_cents('l.l_extendedprice')}) AS DOUBLE)
               / (100 * count(*))   AS avg_price,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 25
    GROUP BY p.p_brand
    """,
)
def q07_broadcast_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with an explicit broadcast hint — the canonical shape for
    dimension joins at 100 TB (ships MBs to every executor instead of
    shuffling TBs of fact rows).

    Filtered `part` is SF-proportional, so the hint is attached only
    under ``DIM_BROADCAST_ROW_BOUND`` rows. Beyond it the join is left
    to the planner's size estimate (the full file size for a filtered
    scan, so it errs toward NOT broadcasting an over-bound dim)."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).where(F.col("p_size") <= 25)
    fits, _ = _dim_gate(p, sf_dir, DIM_BROADCAST_ROW_BOUND)
    dim = F.broadcast(p) if fits else p
    return (
        li.join(dim, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(cents("l_extendedprice")).cast("double")
             / (100 * F.count("*"))).alias("avg_price"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q08_anti_join",
    oracle="""
    SELECT c.c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    GROUP BY c.c_mktsegment
    """,
)
def q08_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no order above 400k.

    Scale: the orders side is pre-filtered and projected to the join key
    only before the anti join, so the shuffled build side is one slim
    column; with customer small enough, Spark flips to broadcast-anti."""
    c = load_table(spark, "customer", sf_dir)
    big = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_totalprice") > 400000)
        .select("o_custkey")
    )
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "q09_semi_join",
    oracle="""
    SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY n.n_name
    """,
)
def q09_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with ≥1 urgent order."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    urgent = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "q29_outer_joins",
    oracle="""
    SELECT s.s_nationkey AS nationkey,
           CAST(count(*) AS BIGINT)        AS n_rows,
           CAST(count(c.c_custkey) AS BIGINT) AS n_matched
    FROM supplier s
    LEFT JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND c.c_acctbal > 9000
    GROUP BY s.s_nationkey
    """,
)
def q29_outer_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a pushed non-key condition; counts preserve
    unmatched left rows (count(col) vs count(*) asymmetry is the check)."""
    s = load_table(spark, "supplier", sf_dir)
    c = load_table(spark, "customer", sf_dir).where(F.col("c_acctbal") > 9000)
    return (
        s.join(c, s.s_nationkey == c.c_nationkey, "left")
        .groupBy(s.s_nationkey.alias("nationkey"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count("c_custkey").alias("n_matched"),
        )
    )


@query(
    "q27_range_join",
    oracle="""
    SELECT a.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    GROUP BY a.user_id
    """,
)
def q27_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) self-join: event pairs of the same user within 10 min.

    Computed as a sliding RANGE-frame window count, not a self-join
    (optimization round 12, guide §2.4/§3): for each event the frame
    (ts, ts + 10 min] over the same user's events counts exactly the
    pairs the join formulation emits for that left row, so sum(cnt) per
    user = the join's count(*) — equality-tested against the join
    formulation (:func:`range_join_pairs_join`) and hash-checked against
    the same oracle. The frame bounds are exact: events.ts has µs
    resolution (nanos DIV 1000 at load), so [ts+1µs, ts+600'000'000µs]
    ⟺ (b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTES). Users whose
    every frame is empty are filtered (the inner join never emitted
    them); NULL user_id/ts rows match nothing in the join form and are
    filtered for the same reason.

    Scale: the join form evaluates the interval predicate on every
    same-user pair — O(Σ n_u²) comparisons (a broadcast-hash self-probe
    at bench SF, a full pair blow-up inside a shuffled join at 100 TB) —
    and then shuffles the surviving pairs into the per-user aggregate.
    The window form is ONE exchange of the events table keyed by
    user_id, a per-partition sort, a sliding-bounds count (amortized
    O(n) per partition after the sort), and a per-user aggregation that
    reuses the window's partitioning — no second exchange, no pair
    materialization. Skewed users cost O(n_u log n_u) instead of
    O(n_u²)."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(1, 600_000_000)  # (ts, ts + 10 min] in µs
    )
    per_event = e.select("user_id", F.count("*").over(w).alias("cnt"))
    return (
        per_event.groupBy("user_id")
        .agg(F.sum("cnt").alias("n_pairs"))
        .where(F.col("n_pairs") > 0)
    )


def range_join_pairs_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The self-join formulation q27 had through round 11 — kept as the
    equality referee for the window-frame rewrite (tests/test_plans.py::
    test_range_join_window_form_single_shuffle_no_join pins q27 == this
    on the real events table), NOT registered as a query."""
    e = load_table(spark, "events", sf_dir)
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "q28_scalar_subquery",
    oracle=f"""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_above
    FROM orders
    WHERE o_totalprice > (SELECT CAST(sum({duck_cents('o_totalprice')}) AS DOUBLE)
                                 / (100 * count(*)) FROM orders)
    GROUP BY o_orderstatus
    """,
)
def q28_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global mean price. Expressed as a
    broadcast of the 1-row aggregate (exactly what Catalyst does for an
    uncorrelated scalar subquery)."""
    o = load_table(spark, "orders", sf_dir)
    # exact-cents mean: a float avg() is order-dependent at the last ULP,
    # and a row within that ULP of the mean would flip the comparison
    mean = o.agg(
        (F.sum(cents("o_totalprice")).cast("double") / (100 * F.count("*"))).alias(
            "mean_price"
        )
    )
    return (
        o.join(F.broadcast(mean))
        .where(F.col("o_totalprice") > F.col("mean_price"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_above"))
    )


# --------------------------------------------------------------------------
# Window functions (absent from the reference)
# --------------------------------------------------------------------------

@query(
    "q13_window_topk",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def q13_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number (deterministic tiebreak).

    Scale: one shuffle on the partition key; Spark 3.5+ inserts a
    WindowGroupLimit (rank-based top-k pushdown) so each partition keeps
    only 3 rows before the final window sort."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "q14_window_running",
    oracle="""
    WITH c AS (SELECT o_custkey, o_orderkey, o_orderdate,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(sum(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
             AS running_spend,
           CAST(sum(cents) OVER w3 AS DOUBLE)
             / (100.0 * count(*) OVER w3)                        AS avg_last3
    FROM c
    WINDOW w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q14_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + sliding 3-row mean per customer (ROWS frames).

    Prices are 2-dp decimals, so both engines accumulate EXACT integer
    cents (sum order-independent) and perform one identical double
    division at the end — a float running sum is summation-order
    sensitive and drifts at the 1e-9 level between engines."""
    o = load_table(spark, "orders", sf_dir)
    run_cents = cents_l("o_totalprice")
    ordering = [F.asc("o_orderdate"), F.asc("o_orderkey")]
    w_run = (
        Window.partitionBy("o_custkey").orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_3 = Window.partitionBy("o_custkey").orderBy(*ordering).rowsBetween(-2, 0)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        (F.sum(run_cents).over(w_run).cast("double") / 100).alias("running_spend"),
        (
            F.sum(run_cents).over(w_3).cast("double")
            / (F.lit(100.0) * F.count(F.lit(1)).over(w_3))
        ).alias("avg_last3"),
    )


@query(
    "q15_lag_lead",
    oracle="""
    SELECT event_id,
           user_id,
           value - lag(value)  OVER w AS delta_prev,
           lead(event_type) OVER w    AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q15_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each user's event timeline."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "q16_rank_dense",
    oracle="""
    SELECT p_partkey AS partkey, p_brand AS brand,
           rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_rank,
           dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_dense_rank
    FROM part
    """,
)
def q16_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank under ties (prices tie within a brand)."""
    p = load_table(spark, "part", sf_dir)
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return p.select(
        F.col("p_partkey").alias("partkey"),
        F.col("p_brand").alias("brand"),
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops / distinct
# --------------------------------------------------------------------------

@query(
    "q17_sort_limit",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           l_extendedprice AS price
    FROM lineitem
    ORDER BY price DESC, orderkey, linenumber
    LIMIT 20
    """,
)
def q17_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: executes as TakeOrderedAndProject (per-partition
    top-20 then driver merge — no global sort shuffle, O(k) memory)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_extendedprice").alias("price"),
        )
        .orderBy(F.desc("price"), F.asc("orderkey"), F.asc("linenumber"))
        .limit(20)
    )


@query(
    "q18_set_ops",
    oracle="""
    SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        UNION
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def q18_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION-distinct cardinalities of customer sets."""
    o = load_table(spark, "orders", sf_dir)
    f_cust = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = o.where(F.col("o_orderstatus") == "O").select("o_custkey")

    def tag(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        tag(f_cust.intersect(o_cust), "intersect")
        .unionAll(tag(f_cust.subtract(o_cust), "except"))
        .unionAll(tag(f_cust.union(o_cust).distinct(), "union"))
    )


@query(
    "q19_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag AS returnflag, l_linestatus AS linestatus
    FROM lineitem
    """,
)
def q19_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates — partial-aggregate dedup before the shuffle."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).dropDuplicates()


# --------------------------------------------------------------------------
# Scalar functions (string / date / math / conditional / json / array)
# --------------------------------------------------------------------------

@query(
    "q20_string_funcs",
    oracle="""
    SELECT p_partkey AS partkey,
           upper(p_name)                          AS name_upper,
           length(p_name)                         AS name_len,
           substr(p_type, 1, 5)                   AS type_prefix,
           concat(p_brand, '-', p_type)           AS brand_type,
           trim(p_name)                           AS name_trim,
           regexp_extract(p_name, '([a-z]+)', 1)  AS first_word,
           CASE WHEN p_type LIKE '%a%' THEN 1 ELSE 0 END AS has_a
    FROM part
    WHERE p_name LIKE '%e%'
    """,
)
def q20_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery — all JVM built-ins, zero Python."""
    p = load_table(spark, "part", sf_dir)
    return p.where(F.col("p_name").like("%e%")).select(
        F.col("p_partkey").alias("partkey"),
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("brand_type"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.when(F.col("p_type").like("%a%"), 1).otherwise(0).alias("has_a"),
    )


@query(
    "q21_date_funcs",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CAST(year(o_orderdate) AS INT)        AS order_year,
           CAST(month(o_orderdate) AS INT)       AS order_month,
           CAST(day(o_orderdate) AS INT)         AS order_day,
           CAST(quarter(o_orderdate) AS INT)     AS order_quarter,
           date_trunc('month', o_orderdate)      AS month_start,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_epoch_start
    FROM orders
    WHERE year(o_orderdate) = 1997
    """,
)
def q21_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery; the year() predicate still prunes via
    min/max parquet stats after Catalyst folds it."""
    o = load_table(spark, "orders", sf_dir)
    return o.where(F.year("o_orderdate") == 1997).select(
        F.col("o_orderkey").alias("orderkey"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
    )


@query(
    "q22_math_funcs",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           abs(l_extendedprice - 50000.0) AS abs_dev,
           sqrt(l_quantity)               AS sqrt_qty,
           round(pow(1 + l_discount, 2), 6) AS disc_sq,
           round(ln(l_extendedprice), 6)    AS ln_price,
           CAST(floor(l_quantity / 7) AS BIGINT) AS qty_bucket,
           CAST(mod(l_orderkey, 97) AS BIGINT) AS key_mod
    FROM lineitem
    WHERE l_linenumber = 1 AND l_quantity >= 10
    """,
)
def q22_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function battery (note: Spark F.log == natural log == DuckDB ln).

    Transcendental outputs (ln, pow) are rounded to 6 dp in BOTH engines:
    libm implementations legitimately differ by 1 ULP (observed on 64/7050
    rows for ln at sf0.01), so raw transcendentals must never land in a
    hashed result column. 6 dp (not 9): rounding only absorbs drift when
    both raw values fall on the same side of a boundary — the straddle
    probability is ULP/quantum, ~2e-9 per drifting row at 6 dp vs ~2e-6
    at 9 dp.
    """
    li = load_table(spark, "lineitem", sf_dir)
    return li.where((F.col("l_linenumber") == 1) & (F.col("l_quantity") >= 10)).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.abs(F.col("l_extendedprice") - 50000.0).alias("abs_dev"),
        F.sqrt("l_quantity").alias("sqrt_qty"),
        F.round(F.pow(1 + F.col("l_discount"), 2), 6).alias("disc_sq"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("ln_price"),
        F.floor(F.col("l_quantity") / 7).alias("qty_bucket"),
        F.pmod(F.col("l_orderkey"), F.lit(97)).alias("key_mod"),
    )


@query(
    "q26_case_null",
    oracle="""
    SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS price_band,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_label,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
    FROM orders
    GROUP BY 1, 2
    """,
)
def q26_case_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / NULLIF / COALESCE + conditional aggregation."""
    o = load_table(spark, "orders", sf_dir)
    band = (
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
    )
    status = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING"))
    return (
        o.groupBy(band.alias("price_band"), status.alias("status_label"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias(
                "n_urgent"
            ),
        )
    )


@query(
    "q24_json_funcs",
    oracle="""
    SELECT event_type,
           avg(CAST(json_extract_string(props, '$.k') AS INT))      AS avg_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def q24_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events.props string column."""
    e = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.avg(k).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count("*").alias("n_events"),
    )


@query(
    "q25_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) AS head_sum,
           CAST(list_max(embedding) AS DOUBLE) > 0.0 AS has_positive
    FROM embeddings
    """,
)
def q25_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order functions over the embedding column — all
    JVM-side (no Python), the pattern for vector math at scale."""
    em = load_table(spark, "embeddings", sf_dir)
    head = F.slice("embedding", 1, 8)
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.aggregate(
            head, F.lit(0.0), lambda acc, x: acc + x.cast("double")
        ).alias("head_sum"),
        # array_max mirrors the oracle's list_max EXACTLY on the edges
        # F.exists does not: empty array → NULL > 0 → NULL in both
        # engines (exists gave false), and NULL elements are skipped by
        # both maxes (exists went tri-state NULL when no positive and a
        # NULL present)
        (F.array_max(F.col("embedding")).cast("double") > 0).alias("has_positive"),
    )


@query(
    "q43_map_funcs",
    oracle="""
    SELECT event_id,
           CAST(len(map_keys(MAP {'etype': event_type, 'uid': CAST(user_id AS VARCHAR)})) AS INT) AS n_keys,
           -- element_at twin via map_extract()[1]? No: DuckDB's bracket
           -- extraction changed meaning in 1.2 (map[key] returns the
           -- value, not a one-element list), so any bracket/[1] form is
           -- version-dependent in an unpinned environment. The map is
           -- built from a column, so the value is simply that column —
           -- the portable identity.
           event_type AS etype_val,
           array_to_string(map_keys(MAP {'etype': event_type, 'uid': CAST(user_id AS VARCHAR)}), ',') AS keys_csv,
           array_to_string(map_values(MAP {'etype': event_type, 'uid': CAST(user_id AS VARCHAR)}), ',') AS values_csv
    FROM events
    """,
)
def q43_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType column construction + map_keys/element_at access."""
    e = load_table(spark, "events", sf_dir)
    m = F.create_map(
        F.lit("etype"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    return e.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, "etype").alias("etype_val"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.array_join(F.map_values(m), ",").alias("values_csv"),
    )


@query(
    "q44_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_val,
           CAST(json_extract(props, '$.k') AS INT) IS NOT NULL AS has_k
    FROM events
    """,
)
def q44_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured JSON parsing: from_json into a typed struct (vs q24's
    path-extraction) — the pattern for semi-structured 100 TB event logs
    (parse once, then columnar access)."""
    e = load_table(spark, "events", sf_dir)
    parsed = F.from_json(F.col("props"), "k INT")
    return e.select(
        "event_id",
        parsed["k"].alias("k_val"),
        parsed["k"].isNotNull().alias("has_k"),
    )


@query(
    "q46_full_outer",
    oracle="""
    WITH cust AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                  FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
    supp AS (SELECT s_nationkey AS nk, count(*) AS n_supp
             FROM supplier GROUP BY 1)
    SELECT coalesce(cust.nk, supp.nk) AS nationkey,
           CAST(coalesce(n_cust, 0) AS BIGINT) AS n_rich_customers,
           CAST(coalesce(n_supp, 0) AS BIGINT) AS n_suppliers
    FROM cust FULL OUTER JOIN supp ON cust.nk = supp.nk
    """,
)
def q46_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (unmatched rows on both sides)."""
    cust = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        load_table(spark, "supplier", sf_dir)
        .groupBy(F.col("s_nationkey").alias("nk2"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cust.join(supp, cust.nk == supp.nk2, "full_outer")
        .select(
            F.coalesce(cust.nk, supp.nk2).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_rich_customers"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_suppliers"),
        )
    )


@query(
    "q47_right_join",
    oracle="""
    SELECT n.n_name AS nation, CAST(count(s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q47_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join keeping nations without suppliers (count(col)=0)."""
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@query(
    "q54_sort_nulls",
    oracle="""
    SELECT o_orderkey AS orderkey,
           nullif(o_orderstatus, 'P') AS status_or_null,
           o_totalprice AS totalprice
    FROM orders
    WHERE o_totalprice > 450000
    ORDER BY status_or_null ASC NULLS FIRST, totalprice DESC, orderkey
    LIMIT 50
    """,
)
def q54_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULLS FIRST placement (engines differ
    on the default — Spark asc = nulls first, DuckDB asc = nulls last —
    so the contract is explicit on both sides)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.where(F.col("o_totalprice") > 450000)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_or_null"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .orderBy(
            F.asc_nulls_first("status_or_null"),
            F.desc("totalprice"),
            F.asc("orderkey"),
        )
        .limit(50)
    )


@query(
    "q55_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q55_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube shape): per-flag,
    per-status, and grand total in one pass over the scan."""
    li = load_table(spark, "lineitem", sf_dir)
    # DataFrame substitution, not a fixed-name temp view: a session-global
    # view name races two concurrent builds on one session (B's
    # createOrReplaceTempView can land between A's create and A's
    # spark.sql analysis, silently swapping A's input)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               count(*) AS n_rows
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        li=li,
    )


@query(
    "q56_having",
    oracle=f"""
    SELECT o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({duck_cents('o_totalprice')}) AS DOUBLE) / 100 AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 12
       AND sum({duck_cents('o_totalprice')}) > 200000000
    """,
)
def q56_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING): Catalyst folds it into a
    filter above the final aggregate — no extra pass."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("spend_c"),
        )
        # exact-cents HAVING: a float-sum threshold comparison flips for
        # groups whose spend sits within a ULP of the cut
        .where((F.col("n_orders") >= 12) & (F.col("spend_c") > 2000000 * 100))
        .select(
            "custkey", "n_orders", (F.col("spend_c").cast("double") / 100).alias("spend")
        )
    )


@query(
    "q57_pivot",
    oracle="""
    SELECT l_returnflag,
           sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS qty_f,
           sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q57_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide) with an explicit value list — at scale the
    value list must be declared (an unlisted pivot triggers a distinct
    scan first); the oracle shows the equivalent FILTER aggregation."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .sum("l_quantity")
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
    )


@query(
    "q58_percentiles",
    oracle="""
    SELECT l_returnflag,
           median(l_quantity)               AS med_qty,
           quantile_cont(l_quantity, 0.25)  AS p25_qty,
           quantile_cont(l_quantity, 0.75)  AS p75_qty,
           quantile_cont(l_extendedprice, 0.9) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q58_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation in both engines).

    Scale note: exact percentile holds per-group sorted state — fine for
    bounded groups; unbounded-cardinality profiles should switch to
    approx_percentile (t-digest sketch), the same exact/approx split as
    q12/q45."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.percentile("l_quantity", 0.25).alias("p25_qty"),
        F.percentile("l_quantity", 0.75).alias("p75_qty"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
    )


@query(
    "q59_corr_covar",
    oracle=f"""
    WITH s AS (SELECT l_linestatus,
                      CAST(count(*) AS BIGINT) AS n,
                      sum({duck_cents('l_quantity')})      AS sq,
                      sum({duck_cents('l_extendedprice')}) AS sp,
                      sum({duck_cents('l_quantity')}
                          * {duck_cents_l('l_extendedprice')}) AS sqp,
                      sum({duck_cents('l_quantity')}
                          * {duck_cents_l('l_quantity')})      AS sqq,
                      sum({duck_cents('l_extendedprice')}
                          * {duck_cents_l('l_extendedprice')}) AS spp,
                      sum({duck_cents('l_discount')})      AS sd,
                      sum({duck_cents('l_tax')})           AS st,
                      sum({duck_cents('l_discount')}
                          * {duck_cents_l('l_tax')})           AS sdt
               FROM lineitem GROUP BY l_linestatus)
    SELECT l_linestatus,
           round((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * sp / n)
                 / sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n)
                        * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * sp / n)), 9)
               AS qty_price_corr,
           round((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * sp / n)
                 / (n - 1) / 10000, 6) AS qty_price_covar,
           round((CAST(sdt AS DOUBLE) - CAST(sd AS DOUBLE) * st / n)
                 / n / 10000, 9) AS disc_tax_covar_pop
    FROM s
    """,
)
def q59_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (Pearson corr, sample/population covariance).

    Built-in corr/covar combine Welford partials in engine- and
    partition-specific order (raw outputs differ at the last ULPs —
    observed). Round-3 upgrade of the old round-both-sides mitigation:
    every co-moment is computed from EXACT integer-cent sums (n, Σx¢,
    Σy¢, Σx¢y¢, Σx¢², Σy¢² — the q23/q128 discipline) with the identical
    float formula in both engines, so the values are order- AND
    plan-independent; the rounding now only fixes display precision."""
    li = load_table(spark, "lineitem", sf_dir)
    q_c, p_c = cents("l_quantity"), cents("l_extendedprice")
    d_c, t_c = cents("l_discount"), cents("l_tax")
    n = F.count("*")
    sq = F.sum(q_c).cast("double")
    sp = F.sum(p_c).cast("double")
    sqp = F.sum(q_c * cents_l("l_extendedprice")).cast("double")
    sqq = F.sum(q_c * cents_l("l_quantity")).cast("double")
    spp = F.sum(p_c * cents_l("l_extendedprice")).cast("double")
    sd = F.sum(d_c).cast("double")
    st = F.sum(t_c).cast("double")
    sdt = F.sum(d_c * cents_l("l_tax")).cast("double")
    co_qp = sqp - sq * sp / n
    return li.groupBy("l_linestatus").agg(
        F.round(
            co_qp / F.sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)), 9
        ).alias("qty_price_corr"),
        F.round(co_qp / (n - 1) / 10000, 6).alias("qty_price_covar"),
        F.round((sdt - sd * st / n) / n / 10000, 9).alias("disc_tax_covar_pop"),
    )


@query(
    "q66_array_agg",
    oracle="""
    SELECT n_regionkey AS regionkey,
           array_to_string(list_sort(list_distinct(list(n_name))), ',') AS nations_csv,
           CAST(len(list_distinct(list(n_name))) AS INT) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q66_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array aggregation, canonicalized (sorted distinct) so
    the nondeterministic collection order can't leak into results — the
    required discipline for any cross-run-stable array aggregate."""
    n = load_table(spark, "nation", sf_dir)
    arr = F.array_sort(F.collect_set("n_name"))
    return n.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.array_join(arr, ",").alias("nations_csv"),
        F.size(arr).alias("n_nations"),
    )


@query(
    "q67_min_max_by",
    oracle="""
    SELECT o_orderpriority,
           arg_min(o_totalprice, o_orderkey) AS first_order_price,
           arg_max(o_totalprice, o_orderkey) AS last_order_price,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q67_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax aggregates). The ordering column is
    the UNIQUE o_orderkey — argmin over a column with ties is
    engine-arbitrary, so unique-by is the contract."""
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.min_by("o_totalprice", "o_orderkey").alias("first_order_price"),
        F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q73_window_distribution",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CAST(ntile(4) OVER w AS INT)    AS price_quartile,
           percent_rank() OVER w           AS price_pct_rank,
           cume_dist() OVER w              AS price_cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q73_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    under a fully deterministic ordering."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
    )


@query(
    "q74_posexplode",
    oracle="""
    WITH e AS (SELECT vec_id, embedding[1:4] AS e4 FROM embeddings)
    SELECT vec_id,
           CAST(generate_subscripts(e4, 1) - 1 AS INT) AS pos,
           round(CAST(unnest(e4) AS DOUBLE), 6) AS val
    FROM e
    """,
)
def q74_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (UDTF with ordinality) over an array slice."""
    em = load_table(spark, "embeddings", sf_dir)
    return em.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 4)).alias("pos", "v")
    ).select("vec_id", "pos", F.round(F.col("v").cast("double"), 6).alias("val"))


@query(
    "q75_string_funcs2",
    oracle="""
    SELECT p_partkey AS partkey,
           lpad(p_brand, 12, '*')            AS brand_pad,
           rpad(p_brand, 12, '.')            AS brand_rpad,
           reverse(p_name)                   AS name_rev,
           repeat(substr(p_type, 1, 2), 2)   AS type_rep,
           translate(p_name, 'ae', '@3')     AS name_leet,
           CAST(levenshtein(p_brand, p_type) AS INT) AS brand_type_dist,
           split_part(p_type, ' ', 1)        AS type_head
    FROM part
    WHERE p_partkey % 3 = 0
    """,
)
def q75_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions round 2: padding, reverse/repeat/translate,
    edit distance (levenshtein — the character-level near-dup signal),
    split_part."""
    p = load_table(spark, "part", sf_dir)
    return p.where(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("partkey"),
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.rpad("p_brand", 12, ".").alias("brand_rpad"),
        F.reverse(F.col("p_name")).alias("name_rev"),
        F.repeat(F.substring("p_type", 1, 2), 2).alias("type_rep"),
        F.translate("p_name", "ae", "@3").alias("name_leet"),
        F.levenshtein("p_brand", "p_type").alias("brand_type_dist"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
    )


@query(
    "q76_date_funcs2",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    WHERE o_orderkey % 5 = 0
    """,
)
def q76_date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions round 2: month-end, month arithmetic (both engines
    clamp to month length), formatting."""
    o = load_table(spark, "orders", sf_dir)
    return o.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("orderkey"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        # timestamp + INTERVAL, not add_months: add_months returns a
        # DATE, silently dropping time-of-day, while the oracle's
        # `+ INTERVAL 3 MONTH` preserves it — parity held only because
        # the current generator emits midnight-aligned o_orderdate (the
        # q121 floor-vs-cast class of generator-drift hazard). Both
        # engines clamp interval month arithmetic to month length. The
        # cast is the same DATE-drift defense month_end carries: if
        # o_orderdate ever surfaces as DATE, date + INTERVAL would yield
        # DATE while the oracle's TIMESTAMP column yields TIMESTAMP.
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTHS"))
        .cast("timestamp").alias("plus3m"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@query(
    "q77_array_funcs2",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding[1:6], x -> CAST(round(CAST(x AS DOUBLE) + 2, 2) AS DOUBLE)) AS a,
                      list_transform(embedding[4:9], x -> CAST(round(CAST(x AS DOUBLE) + 2, 2) AS DOUBLE)) AS b
               FROM embeddings)
    SELECT vec_id,
           CAST(len(list_distinct(list_cat(a, b))) AS INT) AS n_union,
           CAST(len(list_filter(a, x -> list_contains(b, x))) AS INT) AS n_common,
           array_to_string(list_transform(list_reverse(list_sort(a)), x -> CAST(x AS VARCHAR)), ',') AS a_sorted_desc
    FROM e
    """,
)
def q77_array_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions round 2: union cardinality, membership overlap,
    descending sort — set algebra on array columns (values rounded to
    2 dp first so equality compares are exact in both engines; shifted
    +2 so no value rounds to signed zero — ±0.0 set-membership and
    formatting semantics differ across engines)."""
    em = load_table(spark, "embeddings", sf_dir)
    a = F.transform(F.slice("embedding", 1, 6), lambda x: F.round(x.cast("double") + 2, 2))
    b = F.transform(F.slice("embedding", 4, 6), lambda x: F.round(x.cast("double") + 2, 2))
    return em.select(
        "vec_id",
        F.size(F.array_union(a, b)).alias("n_union"),
        F.size(F.filter(a, lambda x: F.array_contains(b, x))).alias("n_common"),
        F.array_join(
            F.reverse(F.array_sort(a)).cast("array<string>"), ","
        ).alias("a_sorted_desc"),
    )


@query(
    "q78_bool_aggs",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)   AS all_over_1k,
           bool_or(o_totalprice > 450000)  AS any_over_450k,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q78_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/some) + conditional count."""
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 450000).alias("any_over_450k"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
    )


@query(
    "q87_histogram",
    oracle="""
    SELECT least(CAST(floor(o_totalprice / 25000) AS BIGINT), 19) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def q87_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: 20 buckets of 25k, last
    bucket open-ended (the width_bucket pattern spelled out portably —
    floor-of-division is an exactly-rounded IEEE op, identical in both
    engines). min/max per bucket are order-independent aggregates.

    Scale: partial aggregation collapses every scan partition to ≤20
    rows before the single shuffle — constant network cost at any input
    size; the 2-column projection prunes the scan."""
    o = load_table(spark, "orders", sf_dir)
    bucket = F.least(F.floor(F.col("o_totalprice") / 25000).cast("bigint"), F.lit(19))
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "q88_time_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_last_10m
    FROM events
    """,
)
def q88_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: for every event, how many events of
    the same user fall in the trailing 10-minute interval (peer rows at
    equal ts included — RANGE semantics, both engines). The window
    formulation of q27's range join: same answer shape with ONE shuffle
    and a per-partition ordered scan instead of a pairwise join.

    Spark's RANGE frame needs a numeric ordering key, so ts is ordered as
    epoch-micros with a [-600e6, 0] frame — exactly INTERVAL 10 MINUTE at
    the generator's microsecond alignment.

    Scale: one hash exchange on user_id + sort; window state is a sliding
    count, no pair materialization, and the frame bound evaluation stays
    in codegen."""
    e = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", F.count("*").over(w).alias("n_last_10m")
    )


@query(
    "q90_unpivot",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    """,
)
def q90_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (the inverse of q57's pivot): part's numeric
    measures to long form, one (partkey, metric, value) row per measure.
    The oracle is the portable UNION-ALL spelling of the same relation.

    Scale: narrow map-side transform — each scan row emits k rows, no
    shuffle, no state; Spark's Expand operator keeps it in codegen."""
    p = load_table(spark, "part", sf_dir)
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# Runaway guard for q92's linear recursion: high enough never to trip on a
# convergent chain recursion, still finite so a genuinely cyclic frontier
# aborts instead of spinning. Overridable per deployment via Spark conf.
Q92_RECURSION_ROW_LIMIT = 2_000_000_000


@query(
    "q92_recursive_chain",
    oracle="""
    WITH RECURSIVE u AS (
      SELECT event_id, user_id, ts,
             lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    ),
    chain(event_id, user_id, depth) AS (
      SELECT event_id, user_id, 1 AS depth
      FROM u WHERE prev_id IS NULL OR gap_us > 600000000
      UNION ALL
      SELECT u.event_id, u.user_id, chain.depth + 1
      FROM chain JOIN u ON u.user_id = chain.user_id
                       AND u.prev_id = chain.event_id
      WHERE u.gap_us <= 600000000
    )
    SELECT event_id, user_id, CAST(depth AS BIGINT) AS depth FROM chain
    """,
)
def q92_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): position of every event in
    its user's activity chain — an event starts a chain (depth 1) when
    nothing precedes it within 10 minutes, otherwise it extends the chain
    of its immediate predecessor. Linked-list precompute via lag() keeps
    the recursion linear (each event has exactly one predecessor), so the
    fixpoint's total work is O(rows), reached in max-chain-length rounds.

    Scale: the lag() window is one shuffle on user_id; each recursive
    round is an equi-join on (user_id, prev_id) whose frontier shrinks to
    the still-growing chains — AQE sizes each round's shuffle at runtime.
    Same recursion the oracle runs (epoch_us ≙ unix_micros)."""
    e = load_table(spark, "events", sf_dir)
    # every event appears in exactly one recursion round, so total
    # recursive output == input rows; the default 1M-row safety limit
    # (spark.sql.cteRecursionRowLimit) trips on any event table >1M rows
    # even though the recursion is linear and convergent — found by the
    # 10× scale probe. A fixed high ceiling keeps the runaway guard
    # WITHOUT a driver-side count() scan before the query even starts
    # (the round-1 version paid a full table scan here). Caveat, stated
    # honestly: the override is SESSION-SCOPED and sticky (the lazy
    # result needs it at execution time, so it cannot be restored here),
    # and a deployment that deliberately set the ceiling to exactly the
    # 1M default is indistinguishable from unset and gets raised too;
    # any other custom ceiling is left alone.
    cur = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    if cur is None or int(cur) == 1_000_000:
        # surfaced, not silent (the sources/io.py timezone-pin pattern):
        # a sticky session-global conf raise is a side effect the
        # session operator should be able to see in the logs
        import logging

        logging.getLogger(__name__).warning(
            "q92: raising session spark.sql.cteRecursionRowLimit "
            "%s -> %d for the recursive chain query (sticky: the lazy "
            "result reads it at execution time)",
            cur or "unset", Q92_RECURSION_ROW_LIMIT,
        )
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(Q92_RECURSION_ROW_LIMIT))
    return spark.sql(
        """
        WITH RECURSIVE u AS (
          SELECT event_id, user_id, ts,
                 lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_id,
                 unix_micros(ts) - unix_micros(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
          FROM {e}
        ),
        chain(event_id, user_id, depth) AS (
          SELECT event_id, user_id, 1 AS depth
          FROM u WHERE prev_id IS NULL OR gap_us > 600000000
          UNION ALL
          SELECT u.event_id, u.user_id, chain.depth + 1
          FROM chain JOIN u ON u.user_id = chain.user_id
                           AND u.prev_id = chain.event_id
          WHERE u.gap_us <= 600000000
        )
        SELECT event_id, user_id, CAST(depth AS BIGINT) AS depth FROM chain
        """,
        e=e,
    )


@query(
    "q93_chain_depth_window",
    oracle="""
    WITH u AS (
      SELECT event_id, user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) <= 600000000
                  THEN 0 ELSE 1 END AS is_head
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT event_id, user_id, ts,
             sum(is_head) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS chain_id
      FROM u
    )
    SELECT event_id, user_id,
           CAST(row_number() OVER (
             PARTITION BY user_id, chain_id ORDER BY ts, event_id) AS BIGINT)
             AS depth
    FROM s
    """,
)
def q93_chain_depth_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q92's answer, scalably: chain depth as a gaps-and-islands window
    computation — flag chain heads (gap > 10 min or first event), running
    sum of flags numbers the chains, row_number within (user, chain) is
    the depth. Identical output to q92 (asserted in tests).

    Scale: TWO window passes over ONE shuffle on user_id — wall time is
    independent of chain length, where q92's recursion pays one join
    round per chain link (the 10× probe measured 14× super-linear for
    the recursion vs flat for this). Recursion is the right tool for
    true graph reachability (q79's oracle); for linear chains the window
    formulation is the 100 TB plan."""
    e = load_table(spark, "events", sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wo))
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = e.select(
        "event_id", "user_id", "ts",
        F.when(gap <= 600_000_000, 0).otherwise(1).alias("is_head"),
    ).withColumn("chain_id", F.sum("is_head").over(run))
    wd = Window.partitionBy("user_id", "chain_id").orderBy("ts", "event_id")
    return s.select(
        "event_id", "user_id",
        F.row_number().over(wd).cast("bigint").alias("depth"),
    )


@query(
    "q94_pct_of_total",
    oracle="""
    WITH g AS (SELECT l_returnflag, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, sum_qty,
           sum_qty / sum(sum_qty) OVER () AS pct
    FROM g
    """,
)
def q94_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total: each return flag's share of total quantity — a
    window over an *aggregate* (the share-of-whole pattern). Quantities
    are integral doubles, so sums and the single division are exact IEEE
    ops — bit-identical across engines.

    Scale: the aggregation collapses to ≤3 rows before the unpartitioned
    window, so the "global" window is 3 rows on one core — the anti-
    pattern of a global window over raw data never materializes."""
    li = load_table(spark, "lineitem", sf_dir)
    g = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("sum_qty"))
    w = Window.partitionBy()
    return g.select(
        "l_returnflag", "sum_qty",
        (F.col("sum_qty") / F.sum("sum_qty").over(w)).alias("pct"),
    )


@query(
    "q95_funnel_conversion",
    oracle="""
    WITH p AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase')
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN EXISTS (
                 SELECT 1 FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM p GROUP BY p.user_id
    """,
)
def q95_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: per user, how many purchases were preceded by a
    click within 10 minutes (click→purchase conversion, the standard
    product-analytics funnel step). The existence check is a left-semi
    join with the range predicate evaluated inside the user_id key group.

    Scale: both probes are equi-keyed on user_id — shuffled hash
    semi-join, never a cross join; the semi-join short-circuits on first
    match so hot users don't multiply pairs. AQE splits skewed users."""
    e = load_table(spark, "events", sf_dir)
    p = e.where(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    converted = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("ts"))
        & (F.col("c_ts") > F.col("ts") - F.expr("INTERVAL 10 MINUTES")),
        "left_semi",
    )
    n_all = p.groupBy("user_id").agg(F.count("*").alias("n_purchases"))
    n_conv = converted.groupBy("user_id").agg(F.count("*").alias("n_conv"))
    return n_all.join(n_conv, "user_id", "left").select(
        "user_id",
        "n_purchases",
        F.coalesce(F.col("n_conv"), F.lit(0)).alias("n_converted"),
    )


@query(
    "q101_variant_json",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) % 2 = 0
    GROUP BY event_type
    """,
)
def q101_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data through Spark 4's VARIANT type: parse_json
    once into a variant column, then variant_get typed extractions —
    the open-format answer to repeated get_json_object string parsing
    (q24's formulation). One parse per row, binary-encoded traversal for
    every subsequent access.

    Scale: parse and extraction are map-side codegen'd expressions; the
    aggregate is a standard partial-agg shuffle. At 100 TB the win over
    string JSON is parsing ONCE into the columnar-friendly binary
    encoding instead of per-extraction re-parsing."""
    e = load_table(spark, "events", sf_dir)
    v = e.withColumn("pv", F.parse_json(F.col("props")))
    k = F.variant_get(F.col("pv"), "$.k", "int")
    return (
        v.where(k % 2 == 0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.sum(k).cast("long").alias("sum_k"),
        )
    )


@query(
    "q102_edit_distance",
    oracle="""
    SELECT p_partkey AS partkey, p_brand,
           lag(p_name) OVER w AS prev_name,
           CAST(CASE WHEN lag(p_name) OVER w IS NULL THEN NULL
                     ELSE levenshtein(p_name, lag(p_name) OVER w) END AS INT)
             AS edit_dist
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_partkey)
    """,
)
def q102_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity operator: Levenshtein distance between each part
    name and the previous name in its brand (lag window) — the fuzzy-
    match primitive for catalog/entity-resolution pipelines. Edit
    distance is an integer DP identical in every implementation, so the
    oracle comparison is exact with no rounding discipline needed.

    Scale: one shuffle on the window partition key; levenshtein is a
    per-row O(len²) JVM expression inside codegen — no Python, no
    quadratic pairwise term (neighbor-only comparison; all-pairs fuzzy
    matching belongs to the LSH/blocking families)."""
    p = load_table(spark, "part", sf_dir)
    w = Window.partitionBy("p_brand").orderBy("p_partkey")
    prev = F.lag("p_name").over(w)
    return p.select(
        F.col("p_partkey").alias("partkey"),
        "p_brand",
        prev.alias("prev_name"),
        F.when(prev.isNull(), F.lit(None).cast("int"))
        .otherwise(F.levenshtein(F.col("p_name"), prev))
        .alias("edit_dist"),
    )


@query(
    "q111_event_anomalies",
    oracle="""
    WITH cuts AS (SELECT event_type, quantile_cont(value, 0.99) AS p99
                  FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value, round(c.p99, 6) AS p99_cut
    FROM events e JOIN cuts c ON e.event_type = c.event_type
    WHERE e.value > c.p99
    """,
)
def q111_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold anomaly detection: flag events whose value exceeds their
    type's 99th percentile — the outlier screen a metrics pipeline runs
    before alerting or before excluding spikes from training data.

    The cut is an EXACT percentile (order statistic + fixed linear
    interpolation — q58's established cross-engine pairing), so the
    keep/drop comparison is evaluated against bit-identical cut values in
    both engines and no row can flip sides; the reported cut column is
    rounded for hash stability only.

    Scale: the percentile holds per-type sorted state (bounded: one group
    per event_type); the cut table is a handful of rows and broadcasts
    back onto the stream, so the detection pass is map-side with one
    aggregation shuffle on event_type. For unbounded-cardinality keys the
    sketch twin is approx_percentile (q72's family)."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    cuts = ev.groupBy("event_type").agg(F.percentile("value", 0.99).alias("p99"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .where(F.col("value") > F.col("p99"))
        .select(
            "event_id", "event_type", "value", F.round("p99", 6).alias("p99_cut")
        )
    )


@query(
    "q113_weekly_trend",
    oracle="""
    WITH w AS (SELECT event_type, date_trunc('week', ts) AS week,
                      count(*) AS n_events
               FROM events GROUP BY 1, 2)
    SELECT event_type, week, CAST(n_events AS BIGINT) AS n_events,
           CAST(lag(n_events) OVER (PARTITION BY event_type ORDER BY week)
                AS BIGINT) AS prev_n,
           round(CAST(n_events - lag(n_events) OVER (PARTITION BY event_type ORDER BY week) AS DOUBLE)
                 / lag(n_events) OVER (PARTITION BY event_type ORDER BY week), 6)
               AS wow_change
    FROM w
    """,
)
def q113_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week event-volume trend per type: weekly counts plus the
    relative change vs the prior week — the time-series health report
    layered on any event stream. The change is a ratio of two identically
    computed integers (exact IEEE division, then fixed rounding), so it
    hashes identically across engines; weeks truncate to Monday in both.

    Scale: one aggregation shuffle on (event_type, week) with map-side
    partial counts; the lag window repartitions the (tiny) weekly rollup
    by event_type — the corpus itself is touched once."""
    ev = load_table(spark, "events", sf_dir)
    w = ev.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("week")
    ).agg(F.count("*").alias("n_events"))
    win = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n_events").over(win)
    return w.select(
        "event_type",
        "week",
        "n_events",
        prev.alias("prev_n"),
        F.round(
            (F.col("n_events") - prev).cast("double") / prev, 6
        ).alias("wow_change"),
    )


@query(
    "q114_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, last_order, frequency, monetary_cents,
               ntile(4) OVER (ORDER BY last_order, o_custkey)      AS r_q,
               ntile(4) OVER (ORDER BY frequency, o_custkey)       AS f_q,
               ntile(4) OVER (ORDER BY monetary_cents, o_custkey)  AS m_q
        FROM rfm
    )
    SELECT o_custkey AS custkey, last_order,
           CAST(frequency AS BIGINT) AS frequency,
           CAST(monetary_cents AS BIGINT) AS monetary_cents,
           CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
           CAST(m_q AS INT) AS m_q,
           CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS rfm_code
    FROM scored
    """,
)
def q114_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    per-customer order stats quartiled into a 3-digit segment code — the
    canonical warehouse scoring query. Monetary sums EXACT INTEGER CENTS
    (per-row round(price·100) is identical in both engines; integer sums
    are order-independent), so the quartile ordering can never be flipped
    by float summation order; all ntile orderings tie-break on custkey.

    Scale: one aggregation shuffle on custkey; the three global ntile
    windows sort the (customer-sized, not order-sized) rollup — for
    1e9+ customers the quartile cut would switch to percentile_approx
    thresholds + a broadcast join, trading exact quartile boundaries for
    no global sort (the q12/q45 exact/sketch split)."""
    o = load_table(spark, "orders", sf_dir)
    # cents (decimal(38,0)) not cents_l: SUMMED money follows the module
    # header's wrap-proof discipline (cents_l is for in-row factors only);
    # one cast to long after the exact sum matches the oracle's BIGINT
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(cents("o_totalprice")).cast("long").alias("monetary_cents"),
    )
    r_q = F.ntile(4).over(Window.orderBy("last_order", "custkey"))
    f_q = F.ntile(4).over(Window.orderBy("frequency", "custkey"))
    m_q = F.ntile(4).over(Window.orderBy("monetary_cents", "custkey"))
    return (
        rfm.withColumn("r_q", r_q)
        .withColumn("f_q", f_q)
        .withColumn("m_q", m_q)
        .withColumn(
            "rfm_code", (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        )
    )


@query(
    "q115_copurchase_lift",
    oracle="""
    WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     count(*) AS n_pair
              FROM pp a JOIN pp b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2),
    freq AS (SELECT l_partkey, count(*) AS n FROM pp GROUP BY 1),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM pp)
    SELECT part_a, part_b, CAST(n_pair AS BIGINT) AS n_pair,
           round(CAST(n_pair AS DOUBLE) * tot.n_orders
                 / (CAST(fa.n AS DOUBLE) * fb.n), 6)
               AS lift
    FROM pairs
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b
    CROSS JOIN tot
    WHERE n_pair >= 2
    """,
)
def q115_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same
    order ≥2 times, scored by lift = P(a,b)/(P(a)·P(b)) — association
    mining over the fact table. Lift multiplies/divides identically
    computed integers (exact under IEEE until ~2⁵³), then rounds, so the
    hash is engine-stable.

    Scale: the self-join key is l_orderkey, whose per-key fan-out is the
    per-order line count — bounded by the order-entry process (≤ single
    digits), so pair generation is O(corpus · lines-per-order), never
    quadratic in the table; the n≥2 filter and part-frequency joins run
    on the (much smaller) pair rollup, with the 1-row order total crossed
    in as a broadcast."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_pair"))
        .where(F.col("n_pair") >= 2)
    )
    freq = li.groupBy(F.col("l_partkey")).agg(F.count("*").alias("n"))
    tot = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    return (
        # freq is one row per distinct partkey (SF-proportional) — no
        # broadcast hint: a hint is unconditional. Unhinted, freq is
        # agg-derived (its build sits atop the groupBy exchange), so AQE
        # picks the strategy from the agg's TRUE output size at the
        # stage boundary — broadcast exactly when actually small
        pairs.join(
            freq.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na")),
            "part_a",
        )
        .join(
            freq.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb")),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            # na·nb multiplies in the DOUBLE domain on both sides: as
            # longs, Spark would wrap silently on 64-bit overflow where
            # DuckDB raises (the q128 discipline); doubles are exact to
            # 2^53 and identical beyond.
            F.round(
                F.col("n_pair").cast("double") * F.col("n_orders")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q116_column_profile",
    oracle="""
    SELECT 'l_quantity' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(l_quantity) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           min(l_quantity) AS min_val, max(l_quantity) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_extendedprice) AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           min(l_extendedprice), max(l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_discount) AS BIGINT),
           CAST(count(DISTINCT l_discount) AS BIGINT),
           min(l_discount), max(l_discount)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_tax) AS BIGINT),
           CAST(count(DISTINCT l_tax) AS BIGINT),
           min(l_tax), max(l_tax)
    FROM lineitem
    """,
)
def q116_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (ANALYZE-style data-quality summary): row count,
    null count, exact distinct count, min and max for each numeric
    lineitem measure — the statistics pass every ingestion pipeline runs
    before trusting a new drop. Min/max are raw stored values (no
    arithmetic), so no rounding discipline is needed.

    Scale: ONE scan computes all four profiles (Spark plans the multi-
    count_distinct via a single expand + partial-agg pipeline, not four
    scans — the unpivot to rows happens on the 1-row aggregate). Exact
    distinct counts expand the aggregation buffer; profile jobs over
    ~1e9-cardinality columns switch to approx_count_distinct (q45's
    sketch) at a documented accuracy trade."""
    li = load_table(spark, "lineitem", sf_dir)
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
    )


@query(
    "q117_mad_outliers",
    oracle="""
    WITH med AS (SELECT event_type, median(value) AS med
                 FROM events GROUP BY event_type),
    mad AS (SELECT e.event_type, median(abs(e.value - m.med)) AS mad
            FROM events e JOIN med m ON e.event_type = m.event_type
            GROUP BY e.event_type)
    SELECT e.event_id, e.event_type, e.value,
           round(m.med, 6) AS med, round(d.mad, 6) AS mad
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    WHERE abs(e.value - m.med) > 5 * d.mad
    """,
)
def q117_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events whose value deviates from their
    type's median by more than 5× the median absolute deviation — the
    heavy-tail-safe alternative to z-scores (q111's percentile screen
    breaks when the tail itself shifts the cut; MAD does not). Both
    medians are exact order statistics (Spark F.median ↔ DuckDB median,
    the q58 pairing) and every deviation is arithmetic on identically
    stored doubles, so the keep/drop comparison is bit-deterministic
    across engines; reported stats are rounded for hash stability only.

    Scale: two aggregation passes over the stream (median, then median
    of deviations) with the tiny per-type stat tables broadcast back
    each time — the robust-stats trade: one extra scan for immunity to
    the outliers being screened. Unbounded key cardinality would switch
    to approx_percentile(0.5) sketches."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("value") - F.col("med")) > 5 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
    )


@query(
    "q118_snapshot_diff",
    oracle="""
    WITH new_snap AS (SELECT doc_id, md5(text) AS h FROM documents),
    old_snap AS (SELECT doc_id,
                        md5(CASE WHEN doc_id % 89 = 0 THEN upper(text) ELSE text END) AS h
                 FROM documents WHERE doc_id % 101 <> 0)
    SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM new_snap n FULL OUTER JOIN old_snap o ON n.doc_id = o.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR n.h <> o.h
    """,
)
def q118_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data-capture: compare the current corpus
    against the previous snapshot by content hash and report every
    added, removed, or changed document — the delta-detection pass an
    incremental pipeline runs to process only what moved. (The "previous
    snapshot" is derived deterministically here: docs with id % 101 = 0
    are new arrivals, docs with id % 89 = 0 had their text edited.)

    Scale: both sides reduce to (doc_id, 16-byte hash) BEFORE the join —
    the full-outer join shuffles 24-byte rows, never text; unchanged
    rows (the overwhelming majority in a real delta) are filtered
    map-side after the join. With both snapshots bucketed by doc_id the
    join is co-located and shuffle-free."""
    docs = load_table(spark, "documents", sf_dir)
    new_snap = docs.select("doc_id", F.md5("text").alias("h"))
    old_snap = docs.where(F.col("doc_id") % 101 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 89 == 0, F.upper("text")).otherwise(F.col("text"))
        ).alias("h"),
    )
    n = new_snap.alias("n")
    o = old_snap.alias("o")
    j = n.join(o, F.col("n.doc_id") == F.col("o.doc_id"), "full_outer")
    return j.where(
        F.col("o.doc_id").isNull()
        | F.col("n.doc_id").isNull()
        | (F.col("n.h") != F.col("o.h"))
    ).select(
        F.coalesce(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


@query(
    "q119_lateral_top_orders",
    oracle="""
    SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey, t.price_cents
    FROM customer c,
    LATERAL (SELECT o_orderkey,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
             FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 2) t
    """,
)
def q119_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4 SQL surface): each customer's
    top-2 orders by value — the per-row-subquery formulation of top-k per
    group, kept alongside the window formulation (q13) because migrating
    SQL frequently arrives written this way. Prices surface as exact
    integer cents; ordering ties break on orderkey.

    Scale: Catalyst decorrelates the lateral into a join + per-key
    WindowGroupLimit-style plan rather than executing a subquery per
    customer row — same physical shape as q13, so the SQL sugar costs
    nothing at 100 TB."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey, t.price_cents
        FROM {cust} c,
        LATERAL (SELECT o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
                 FROM {orders} o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) t
        """,
        cust=cust,
        orders=orders,
    )


@query(
    "q121_trend_ols",
    oracle="""
    WITH w AS (SELECT event_type,
                      CAST(epoch(date_trunc('week', ts)) AS BIGINT) // 604800 AS x,
                      CAST(count(*) AS BIGINT) AS y
               FROM events GROUP BY 1, 2),
    s AS (SELECT event_type,
                 CAST(count(*) AS BIGINT)          AS n,
                 sum(CAST(x AS HUGEINT))           AS sx,
                 sum(CAST(y AS HUGEINT))           AS sy,
                 sum(CAST(x AS HUGEINT) * y)       AS sxy,
                 sum(CAST(x AS HUGEINT) * x)       AS sxx,
                 CAST(max(x) AS BIGINT)            AS last_x
          FROM w GROUP BY 1)
    SELECT event_type, n AS n_weeks,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
           round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n
                 + (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)) * (last_x + 1), 6) AS forecast_next
    FROM s WHERE n >= 2 AND n * sxx - sx * sx > 0
    """,
)
def q121_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type ordinary-least-squares trend over weekly event volumes,
    with a next-week forecast — grouped linear regression, the simplest
    model a metrics pipeline fits in-warehouse. All five regression sums
    (n, Σx, Σy, Σxy, Σx²) accumulate EXACT INTEGERS (week index × count),
    so slope/intercept are identical float expressions over identical
    integers in both engines — deterministic without trusting any
    engine's incremental regr_slope/covar implementation (whose Welford
    merges introduce order-dependent intermediates).

    Scale: one aggregation shuffle to weekly rollups, then a per-key
    aggregation over the (tiny) weekly series; map-side partial sums do
    the heavy lifting. Degenerate groups (single week, zero variance) are
    excluded in both engines."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        ev.groupBy(
            "event_type",
            # floor(), not cast("long"): cast truncates toward zero while
            # the DuckDB oracle's `//` floors — they diverge for pre-1970
            # timestamps, and nothing guarantees the generator never emits
            # negative epochs. floor matches `//` for all signs.
            F.floor(
                F.unix_timestamp(F.date_trunc("week", F.col("ts"))).cast("long")
                / F.lit(604800)
            )
            .cast("long")
            .alias("x"),
        )
        .agg(F.count("*").alias("y"))
    )
    # decimal(38,0) regression sums (HUGEINT on the oracle side): Spark
    # wraps silently on 64-bit overflow where DuckDB raises — the q128
    # discipline. Values stay exact integers; the quotient expressions
    # below are unchanged floats.
    xd = F.col("x").cast("decimal(38,0)")
    s = w.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.max("x").alias("last_x"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return (
        s.where((F.col("n") >= 2) & (den > 0))
        .select(
            "event_type",
            F.col("n").alias("n_weeks"),
            F.round(slope, 6).alias("slope"),
            F.round(intercept, 6).alias("intercept"),
            F.round(intercept + slope * (F.col("last_x") + 1), 6).alias(
                "forecast_next"
            ),
        )
    )


DECAY_HALFLIFE_H = 24.0  # engagement half-life: 24 hours


@query(
    "q125_decayed_engagement",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS t_max FROM events),
    terms AS (
        SELECT user_id, event_id,
               CAST(round(value * 100) AS BIGINT) / 100.0
               * pow(2.0, -(CAST(epoch_us(mx.t_max) - epoch_us(ts) AS DOUBLE)
                            / 3600000000.0) / {DECAY_HALFLIFE_H}) AS term
        FROM events CROSS JOIN mx
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(list_reduce(list_prepend(0.0, list(term ORDER BY event_id)),
                             (a, b) -> a + b), 6) AS decayed_value
    FROM terms GROUP BY user_id
    """,
)
def q125_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay engagement score per user: each event's
    value contributes value·2^(−age/24h) relative to the newest event —
    the standard recency-weighted activity metric (trending scores,
    freshness-weighted user value).

    Determinism stack: ages are exact integer microsecond differences;
    values enter as exact cents; each per-event term is then an identical
    float expression in both engines, and the per-user sum is a
    SEQUENTIAL fold over event_id-sorted terms (the q122 discipline).

    Scale: the 1-row max timestamp broadcasts; terms are row-local; one
    shuffle on user_id whose per-user arrays are bounded by user event
    counts (heavy users → the same salting/AQE answer as any skewed
    agg)."""
    ev = load_table(spark, "events", sf_dir)
    mx = ev.agg(F.max("ts").alias("t_max"))
    age_h = (
        (F.unix_micros(F.col("t_max")) - F.unix_micros(F.col("ts"))).cast("double")
        / 3600000000.0
    )
    term = (
        # the shared cents_l() rule, not an inline respell of it
        (cents_l("value") / F.lit(100.0))
        * F.pow(F.lit(2.0), -age_h / F.lit(DECAY_HALFLIFE_H))
    )
    terms = ev.crossJoin(F.broadcast(mx)).select(
        "user_id", "event_id", term.alias("term")
    )
    agg = terms.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_id", "term"))),
                lambda s: s.term,
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("dv"),
    )
    return agg.select(
        "user_id", "n_events", F.round("dv", 6).alias("decayed_value")
    )


@query(
    "q128_ab_welch_t",
    oracle="""
    WITH c AS (SELECT event_type,
                      CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events),
    s AS (SELECT event_type, arm,
                 CAST(count(*) AS BIGINT)              AS n,
                 sum(CAST(cents AS HUGEINT))           AS s1,
                 sum(CAST(cents AS HUGEINT) * cents)   AS s2
          FROM c GROUP BY 1, 2),
    wide AS (SELECT a.event_type,
                    a.n AS n_a, a.s1 AS s1_a, a.s2 AS s2_a,
                    b.n AS n_b, b.s1 AS s1_b, b.s2 AS s2_b
             FROM s a JOIN s b ON a.event_type = b.event_type
                              AND a.arm = 'A' AND b.arm = 'B')
    SELECT event_type, n_a, n_b,
           round(CAST(s1_a AS DOUBLE) / n_a / 100, 6) AS mean_a,
           round(CAST(s1_b AS DOUBLE) / n_b / 100, 6) AS mean_b,
           round((CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b)
                 / sqrt(((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a)
                         / (n_a - 1)) / n_a
                        + ((CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b)
                           / (n_b - 1)) / n_b), 6) AS welch_t
    FROM wide WHERE n_a >= 2 AND n_b >= 2
    """,
)
def q128_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t-statistic per event type between experiment
    arms (A = even user ids, B = odd — the deterministic stand-in for an
    assignment table): the in-warehouse A/B readout that decides whether
    a value shift is signal or noise before anyone ships.

    Determinism: each arm's count, sum, and sum-of-squares accumulate
    EXACT integer cents (all < 2⁵³), so mean, Welch variance, and the t
    statistic are identical float expressions over identical integers in
    both engines — no order-dependent float accumulation anywhere.

    Scale: one aggregation shuffle on (event_type, arm) with map-side
    partials; the arm join and t arithmetic run on the tiny per-type
    rollup. Degenerate arms (n < 2) are excluded on both sides."""
    ev = load_table(spark, "events", sf_dir)
    val_cents = cents_l("value")
    c = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias("arm"),
        val_cents.alias("cents"),
    )
    # decimal(38,0) accumulators, not LongType: Spark in non-ANSI mode
    # WRAPS silently on 64-bit overflow while the DuckDB oracle raises —
    # at large scale/values the engines would diverge with no error
    # signal. 38 digits of headroom (HUGEINT on the oracle side) makes
    # both engines exact; the final columns are rounded doubles either
    # way, so the compare is unaffected.
    dec = F.col("cents").cast("decimal(38,0)")
    s = c.groupBy("event_type", "arm").agg(
        F.count("*").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * F.col("cents")).alias("s2"),
    )
    a = s.where(F.col("arm") == "A").select(
        "event_type",
        F.col("n").alias("n_a"), F.col("s1").alias("s1_a"), F.col("s2").alias("s2_a"),
    )
    b = s.where(F.col("arm") == "B").select(
        "event_type",
        F.col("n").alias("n_b"), F.col("s1").alias("s1_b"), F.col("s2").alias("s2_b"),
    )
    w = a.join(b, "event_type").where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    mean_a = F.col("s1_a").cast("double") / F.col("n_a")
    mean_b = F.col("s1_b").cast("double") / F.col("n_b")
    var_a = (F.col("s2_a").cast("double") - F.col("s1_a").cast("double") * F.col("s1_a") / F.col("n_a")) / (F.col("n_a") - 1)
    var_b = (F.col("s2_b").cast("double") - F.col("s1_b").cast("double") * F.col("s1_b") / F.col("n_b")) / (F.col("n_b") - 1)
    t = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return w.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(mean_a / 100, 6).alias("mean_a"),
        F.round(mean_b / 100, 6).alias("mean_b"),
        F.round(t, 6).alias("welch_t"),
    )

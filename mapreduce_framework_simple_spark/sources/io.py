"""Sources & sinks.

The reference has no storage layer at all — data is an in-memory Perl array
built by the caller (Simple.pm:536-546) and the only sink is the reducer's
return value (Simple.pm:335-338). Our engine declares real columnar
sources (SURVEY.md §2.3 "Scans/sources"): parquet for the test star
schema, plus CSV/JSON readers and ``createDataFrame`` for in-memory parity.

Schemas are declared in ``SCHEMAS`` (SURVEY.md §1.3: the engine replaces
the reference's "trust the closure" contract with fail-fast StructType
schemas), but they are NOT forced at read time: :func:`load_table` reads
with no schema, so every call pays one schema-inference job (a listing
plus footer read; measured). The declared schemas are used by the stream
readers and by :func:`validate_schema`. Reusing a resolved schema per
path is ROADMAP item 2.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# FIXTURES.md F3-F12. arrays kept as float32 on read; compute casts to
# double explicitly where numeric parity with the oracle matters.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}

TABLES = tuple(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _pin_utc_session(spark: SparkSession) -> None:
    """Pin ``spark.sql.session.timeZone`` to UTC — shared by the events
    branch and :func:`_normalize_ntz` (any NTZ→TIMESTAMP cast is
    value-exact ONLY under UTC; a non-UTC session would shift instants
    by the zone offset, and order-dependently: session confs apply at
    ACTION time, so a later pin would also change still-lazy earlier
    plans). Idempotent; a retune of an externally-built session is
    logged, never silent — the caller's unrelated timestamp queries
    change meaning from here on."""
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        import logging

        logging.getLogger(__name__).warning(
            "load_table: pinning spark.sql.session.timeZone to UTC for "
            "the whole session (was %s) — required for value-exact "
            "NTZ timestamp normalization and oracle-stable event-time "
            "semantics",
            spark.conf.get("spark.sql.session.timeZone", None),
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Parquet scan of one star-schema table.

    Plain ``spark.read.parquet`` — no schema forced at read time so the
    vectorized parquet reader maps columns natively (the driver's files
    are the source of truth); callers that need the declared contract can
    validate with :func:`validate_schema`.

    ``events.ts`` is physically TIMESTAMP(NANOS), which Spark's reader
    rejects; it is read as nanos-since-epoch (legacy long mode) and
    rebuilt as a microsecond timestamp — the generator emits micro-aligned
    values, so the conversion is lossless.

    .. warning:: loading ``events`` — or ANY table that surfaces a
       TIMESTAMP_NTZ column — pins ``spark.sql.session.timeZone`` to UTC
       for the WHOLE session (required for value-exact NTZ normalization
       and oracle-stable event-time semantics; session confs apply at
       action time, so there is no reader-scoped form), and ``events``
       additionally enables ``spark.sql.legacy.parquet.nanosAsLong``.
       On an externally-built session either retune changes the
       caller's other, not-yet-materialized timestamp queries — a
       warning is logged when it happens.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        # Both configs ship in session.builder(); they are REQUIRED for a
        # correct events read (nanos parquet; UTC-stable ts arithmetic).
        # Externally-built sessions (the round driver's vanilla session)
        # don't use the factory, so self-heal here — but only touch conf
        # when the value is actually wrong, and always to the same fixed
        # values, so repeated/concurrent reads are idempotent rather than
        # a per-read side effect.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
            # same not-silent rule as the tz pin: this flip changes how
            # the caller's OWN TIMESTAMP(NANOS) parquet reads behave
            # session-wide (loud "Illegal Parquet type" error → silent
            # bigint nanos column)
            import logging

            logging.getLogger(__name__).warning(
                "load_table('events'): enabling "
                "spark.sql.legacy.parquet.nanosAsLong for the whole "
                "session — TIMESTAMP(NANOS) parquet columns now read as "
                "bigint nanos instead of erroring"
            )
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # session tz has no reader-scoped form (confs apply at ACTION
        # time, so a scoped set-and-restore would race the lazy plan)
        _pin_utc_session(spark)
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: float division of epoch-nanos exceeds the
            # 53-bit double mantissa and drifts by ±1 µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet surfaces as
            # TIMESTAMP_NTZ; with the session tz pinned to UTC above, the
            # cast to session-tz TIMESTAMP is value-exact and gives every
            # downstream query (unix_micros, windows, pandas bridge) one
            # uniform timestamp type regardless of writer precision
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _normalize_ntz(spark.read.parquet(path))


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session TIMESTAMP. The driver's
    parquet writer emits TIMESTAMP(MICROS, isAdjustedToUTC=false) for
    some date columns and its precision is not stable (the reason
    _TYPE_EQUIV exists) — but only events.ts used to be normalized, so an
    NTZ o_orderdate/l_shipdate would flow through as a DIFFERENT type
    than the declared TIMESTAMP: LTZ-only functions (unix_micros),
    comparisons against normalized columns, and the pandas bridge would
    then behave writer-precision-dependently. Under the UTC session this
    engine pins, the cast is value-exact; non-NTZ frames pass through
    with an unchanged plan."""
    from pyspark.sql import functions as F

    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        # the cast below is value-exact ONLY under a UTC session — pin it
        # here too, not just on the events branch, or a non-events load
        # on an externally-built non-UTC session would silently shift
        # every NTZ instant by the zone offset
        _pin_utc_session(df.sparkSession)
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


def register_temp_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Expose every table as a SQL temp view (enables ``spark.sql`` use)."""
    for n, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(n)


# Physical-format variances the validator accepts as equivalent: the
# driver's parquet writer emits TIMESTAMP(MICROS, isAdjustedToUTC=false)
# for some date columns, surfacing as TIMESTAMP_NTZ against the declared
# TimestampType — value-identical under the UTC session this engine pins.
_TYPE_EQUIV = {frozenset({"timestamp", "timestamp_ntz"})}


def validate_schema(df: DataFrame, name: str) -> None:
    """Fail fast when a scan does not match the declared contract —
    column NAMES and TYPES (a 'value' column that arrives as string
    would otherwise fail deep inside a query, or worse, silently cast)."""
    declared = {f.name: f.dataType.simpleString() for f in SCHEMAS[name].fields}
    actual = dict(df.dtypes)
    missing = set(declared) - set(actual)
    if missing:
        raise ValueError(f"table {name}: missing columns {sorted(missing)}")
    drift = [
        (c, declared[c], actual[c])
        for c in declared
        if actual[c] != declared[c]
        and frozenset({actual[c], declared[c]}) not in _TYPE_EQUIV
    ]
    if drift:
        raise ValueError(
            f"table {name}: dtype drift "
            + "; ".join(f"{c}: declared {d}, got {a}" for c, d, a in drift)
        )
    extras = set(actual) - set(declared)
    if extras:
        # additive evolution is non-breaking for column-pruned readers
        # (every query selects declared columns), so extras WARN rather
        # than fail — but star-expansion consumers deserve the signal
        import logging

        logging.getLogger(__name__).warning(
            "table %s: undeclared extra columns %s (accepted; declared "
            "queries prune them, but star-expansion consumers will see "
            "a changed shape)", name, sorted(extras),
        )


def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True) -> DataFrame:
    """CSV source with a mandatory explicit schema (no inference pass)."""
    return spark.read.csv(path, schema=schema, header=header)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines source with a mandatory explicit schema."""
    return spark.read.json(path, schema=schema)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: tuple[str, ...] = ()) -> None:
    """Parquet sink; ``partition_by`` enables partition pruning downstream."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)

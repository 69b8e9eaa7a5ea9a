"""SparkSession factory tuned for both local testing and 100 TB clusters.

The reference's "session" is the constructor of a single Perl object plus a
worker HTTP server (Simple.pm:19-30, 341-382). On Spark, cluster bring-up
is the cluster manager's job; the engine only owns the SparkSession config.

Every config below is chosen for scale-out behavior, then inherited by the
local[N] test runs:

* AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy demotion — the production replacement for the
  reference's size-balanced ``volume_uniform`` partitioner
  (Simple.pm:133-144).
* Arrow on: every pandas_udf / mapInPandas crosses the JVM/Python
  boundary in columnar batches, not rows.
* shuffle.partitions: an explicit ``shuffle_partitions=`` wins. Otherwise
  a local master gets one shuffle partition per local core
  (``defaultParallelism``), like the reference's one chunk per worker
  (Simple.pm:49-145), unless spark-submit or spark-defaults set it; a
  cluster master keeps the cluster's own setting. AQE cannot coalesce
  the partitions of a cached frame, so a fixed count larger than the
  cores runs idle tasks on every stage that reads one.
* codegen cache 2048 classes: one sweep of the 129 registered queries
  generates about 1,320 distinct classes (sf0.01, 4 cores), and Spark's
  default LRU cache of 100 evicts most of them, so every later run
  re-compiles them with Janino and re-JITs them. Spark sizes the cache
  once per JVM, so it applies only when this builder creates the JVM's
  first session (docs/KNOWN_LIMITS.md #8).
* Python worker daemon ``worker_daemon`` on local masters only: PySpark
  invalidates import caches on every task, and before CPython 3.13 that
  re-reads ~28k zip entries of ``pyspark.zip`` and the jars per task
  (about 0.2 CPU-s); the daemon skips archives that did not change.
  ``spark.executorEnv.PYTHONPATH`` lets the workers import it wherever
  the driver runs. A cluster master keeps ``pyspark.daemon``
  (docs/KNOWN_LIMITS.md #8).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
# a string, not an import: importing the module patches zipimport
_WORKER_DAEMON = "mapreduce_framework_simple_spark.worker_daemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def builder(app_name: str = "mapreduce-framework-simple-spark",
            master: str | None = None,
            shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Return a pre-tuned builder; callers may add/override configs."""
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size balances Python-worker memory vs call overhead at
        # scale; 10k rows/batch keeps 64-dim float arrays ~5 MB per batch.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables (region/nation/supplier at any SF; part/customer
        # at test SFs) must broadcast: 64 MB threshold instead of 10 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Read-side split sizing: at 100 TB a scan makes ~800k splits at the
        # 128 MB default, which is fine; do not shrink it locally either.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet may be written as TIMESTAMP(NANOS), which Spark
        # reads only in legacy long mode; set at build so no read path has
        # to mutate a live session's config (load_table still arms it on
        # externally built sessions).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # next power of two above the ~1,320-class working set of a sweep
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    if shuffle_partitions is not None:
        if shuffle_partitions < 1:
            raise ValueError(
                f"shuffle_partitions must be >= 1, got {shuffle_partitions}"
            )
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # master, most specific first: the argument, the SPARK_MASTER env var,
    # spark-submit's --master, then the local default. spark-submit passes
    # its master through the JVM gateway it launched (PYSPARK_GATEWAY_PORT),
    # never through this builder, so setting .master() here would rewrite
    # a `--master yarn` job to local.
    if master is None:
        master = os.environ.get("SPARK_MASTER") or None
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{DEFAULT_CPUS}]"
    if master is not None:
        b = b.master(master)
    if master is not None and master.startswith("local"):
        # local workers can import the daemon from wherever the driver runs
        b = (b.config("spark.python.daemon.module", _WORKER_DAEMON)
             .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT))
    return b


def get_session(app_name: str = "mapreduce-framework-simple-spark",
                master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    spark = builder(app_name, master, shuffle_partitions).getOrCreate()
    sc = spark.sparkContext
    if (shuffle_partitions is None and sc.master.startswith("local")
            and not sc.getConf().contains("spark.sql.shuffle.partitions")):
        spark.conf.set("spark.sql.shuffle.partitions", str(sc.defaultParallelism))
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """(Janino compilations, HotSpot JIT seconds) of this JVM so far.

    Take the difference of two readings around a run: a nonzero compile
    count on a repeated run means its generated code was not reused. Both
    counters are JVM-wide, so in local mode they include the executors.
    """
    jvm = spark.sparkContext._jvm
    compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME().getCount())
    jit_ms = (jvm.java.lang.management.ManagementFactory
              .getCompilationMXBean().getTotalCompilationTime())
    return int(compiles), jit_ms / 1000.0


def stop_session() -> None:
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()

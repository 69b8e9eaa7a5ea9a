#!/usr/bin/env python
"""The reference's own benchmark workload, at full scale: sum of primes
in [1,000,000,001 .. 1,000,300,000] (300,000 candidates; Simple.pm:836-929,
README.md:315-408). Reference numbers: ~60 s serial Perl, ~10 s via
map_reduce on 2 workers × "20 cores over" + 10 client forks.

Engine strategy: Arrow-batched pandas_udf (the exact factory q61 ships —
functions/udfs.py::prime_predicate_udf); each batch sieves the ~3,400
primes below √max once, then segment-sieves its contiguous value span
(~3 marking ops per candidate) — not trial division by every integer
like the reference's mapper (Simple.pm:897-907).

Runs on ``local[$SPARK_GRAFT_CPUS]`` (default: every core) and prints
``prime_sum``, ``n_primes``, ``wall`` and ``cpus``.

Usage: python tools/prime_bench.py
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LO = 1_000_000_001
HI = 1_000_300_001  # exclusive → 300,000 candidates, ≙ the POD's range


def main() -> None:
    from pyspark.sql import functions as F
    from mapreduce_framework_simple_spark.session import get_session

    spark = get_session("prime-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # ONE kernel, literally: the same factory q61 ships. The returned
    # UDF's closure is self-contained, so executors never need the repo
    # on PYTHONPATH; only this driver-side import does.
    from mapreduce_framework_simple_spark.functions.udfs import (
        prime_predicate_udf,
    )

    is_prime = prime_predicate_udf()

    spark.range(1, 1000).withColumnRenamed("id", "n").where(is_prime(F.col("n"))).count()  # warm workers

    t0 = time.perf_counter()
    row = (
        spark.range(LO, HI)
        .withColumnRenamed("id", "n")
        .where(is_prime(F.col("n")))
        .agg(F.sum("n").alias("prime_sum"), F.count("*").alias("n_primes"))
        .collect()[0]
    )
    dt = time.perf_counter() - t0
    print(f"prime_sum={row['prime_sum']} n_primes={row['n_primes']} "
          f"wall={dt:.2f}s cpus={spark.sparkContext.defaultParallelism}")


if __name__ == "__main__":
    main()

"""The benchmark's workloads: their inputs, their operations (ops) and the
check of every op's output.

An op is one query or call into the engine. ``Op.call(sf_dir, mark)``
runs it against the tables in ``sf_dir`` and returns its result on the
driver; it calls ``mark()`` once the plan is built and before the action
that produces the result, which splits the op's time into build and
action for the traced run. ``Op.check(result)`` returns a list of
problems, empty when the output is right.

``olap_repeat`` reads the sf 0.1 fixture directory on every pass.
``corpus_fresh`` reads its corpus through a new directory of hard links on
every pass, so anything the engine keys on the input path misses. Both
warm up on the sf 0.001 fixture.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import oracle_harness
import pandas as pd

import gen

# sizes of the generated inputs (see WORKLOADS.md)
CORPUS_BASE_DOCS = 200   # x gen.COPIES = 800 documents
MR_INTS = 50_000         # map_reduce input array length
MR_LO, MR_HI = 1_000_000, 2_000_000
MR_MAX_PROC = 8          # chunks per map_reduce call

OLAP_QUERIES = (
    "q01_pricing_summary", "q03_top_revenue", "q05_join_chain",
    "q13_window_topk", "q22_math_funcs", "q26_case_null",
    "q27_range_join", "q50_tumbling_window", "q82_asof_join",
)
KERNEL_QUERIES = ("q61_prime_sum", "q131_wav_codec_features")
CORPUS_QUERIES = (
    "q30_word_count", "q35_dedup_exact", "q36_ngram_jaccard", "q40_cosine_topk",
)
CURATE_INVARIANTS = (
    ("dropped_quality", "n_total", "n_after_quality"),
    ("dropped_exact", "n_after_quality", "n_after_exact_dedup"),
    ("dropped_neardup", "n_after_exact_dedup", "n_after_neardup"),
)


@dataclass
class Op:
    name: str
    layer: str
    call: Callable[[str, Callable[[], None]], Any]
    check: Callable[[Any], list[str]]


def fingerprint(pdf: pd.DataFrame) -> str:
    """Hash of a canonicalized frame: column names, dtype kinds, values."""
    h = hashlib.sha256(repr([(c, pdf[c].dtype.kind) for c in pdf.columns]).encode())
    h.update(pd.util.hash_pandas_object(pdf, index=False).values.tobytes())
    return h.hexdigest()


class QueryCheck:
    """Compares a query's rows with its DuckDB oracle, computed once
    before timing. The first matching result's fingerprint is kept, and
    every later result must reproduce it exactly."""

    def __init__(self, oracle_pdf: pd.DataFrame):
        self.oracle = oracle_pdf
        self.expected: str | None = None

    def __call__(self, pdf: pd.DataFrame) -> list[str]:
        fp = fingerprint(oracle_harness.canonicalize(pdf, round_floats=False))
        if fp == self.expected:
            return []
        problems = oracle_harness.compare_frames(pdf, self.oracle, strict=True)
        if problems:
            return problems
        if self.expected is not None:
            return ["result matches the oracle but its fingerprint changed"]
        self.expected = fp
        return []


def query_op(spark, name: str, oracle_pdf: pd.DataFrame) -> Op:
    from mapreduce_framework_simple_spark import registry

    fn = registry.QUERIES[name]

    def call(sf_dir: str, mark: Callable[[], None]) -> pd.DataFrame:
        df = fn(spark, sf_dir)
        mark()
        return df.toPandas()

    return Op(name, fn.__module__.rsplit(".", 1)[-1], call, QueryCheck(oracle_pdf))


def prime_sum(values: list[int]) -> int:
    """The reference check: a plain-Python sum of the primes in
    ``values``, from a sieve of Eratosthenes up to their maximum."""
    top = max(values, default=1)
    sieve = bytearray([1]) * (top + 1)
    sieve[:2] = b"\0\0"
    for p in range(2, math.isqrt(top) + 1):
        if sieve[p]:
            sieve[p * p::p] = bytes(len(range(p * p, top + 1, p)))
    return sum(v for v in values if v >= 0 and sieve[v])


def _prime_mapper():
    # built inside a function so cloudpickle ships it by value: the
    # executors cannot import this file
    def mapper(chunk):
        import math

        total = 0
        for n in chunk:
            if n < 2 or (n % 2 == 0 and n != 2):
                continue
            if all(n % d for d in range(3, math.isqrt(n) + 1, 2)):
                total += n
        return total

    return mapper


def map_reduce_op(spark, method: str, values: list[int], expected: int) -> Op:
    from mapreduce_framework_simple_spark.operators.mapreduce import (
        create_assigned_data,
        map_reduce,
    )

    mapper = _prime_mapper()

    def call(_sf_dir: str, mark: Callable[[], None]) -> int:
        chunks = create_assigned_data(values, MR_MAX_PROC, method)
        mark()
        return map_reduce(chunks, mapper, sum, max_proc=MR_MAX_PROC,
                          spark=spark, pre_chunked=True)

    def check(got: int) -> list[str]:
        return [] if got == expected else [f"prime sum {got} != {expected}"]

    return Op(f"map_reduce_{method}", "mapreduce", call, check)


def check_curate_report(report: dict, n_docs: int) -> list[str]:
    """The audit report's telescoping invariants."""
    problems = []
    if report["n_total"] != n_docs:
        problems.append(f"n_total {report['n_total']} != {n_docs} input docs")
    for dropped, before, after in CURATE_INVARIANTS:
        if report[dropped] != report[before] - report[after]:
            problems.append(f"{dropped} != {before} - {after}")
    if report["n_curated"] != report["n_after_neardup"] - report["dropped_contaminated"]:
        problems.append("n_curated != n_after_neardup - dropped_contaminated")
    chain = [report[k] for k in ("n_total", "n_after_quality", "n_after_exact_dedup",
                                 "n_after_neardup", "n_curated")]
    if any(b > a for a, b in zip(chain, chain[1:])) or chain[-1] <= 0:
        problems.append(f"stage counts do not shrink monotonically: {chain}")
    return problems


def curate_op(spark, n_docs: int, out_root: str) -> Op:
    from mapreduce_framework_simple_spark.pipeline import curate

    seen: list[dict] = []
    calls = itertools.count()

    def call(sf_dir: str, mark: Callable[[], None]) -> dict:
        mark()
        return curate(spark, sf_dir, os.path.join(out_root, f"curated-{next(calls)}"))

    def check(report: dict) -> list[str]:
        problems = check_curate_report(report, n_docs)
        if not problems and seen and report != seen[0]:
            problems.append(f"report differs from the first pass: {report} vs {seen[0]}")
        if not problems and not seen:
            seen.append(report)
        return problems

    return Op("curate", "pipeline", call, check)


class Workload:
    """Inputs, ops and pass directories of one named workload."""

    fresh_paths = False
    warm_dir = gen.SF0001_DIR

    def __init__(self, seed: int, cache: str, scratch: str):
        self.seed, self.cache, self.scratch = seed, cache, scratch
        self.data_dir = gen.SF01_DIR
        self.files = {t: os.path.join(gen.SF01_DIR, f"{t}.parquet") for t in self.tables}
        self.passes = 0

    def pass_dir(self) -> str:
        if not self.fresh_paths:
            return self.data_dir
        self.passes += 1
        return gen.fresh_view(self.files, os.path.join(self.scratch, f"view-{self.passes}"))

    def oracles(self, names) -> dict[str, pd.DataFrame]:
        from mapreduce_framework_simple_spark import registry

        con = oracle_harness.duck_connection(self.data_dir)
        try:
            return {n: con.execute(registry.ORACLES[n]).fetchdf() for n in names}
        finally:
            con.close()


class OlapRepeat(Workload):
    """Relational/temporal queries, the Python-worker kernels and the
    map_reduce closure surface, on the fixed sf 0.1 tables."""

    name = "olap_repeat"
    tables = ("lineitem", "orders", "customer", "part", "supplier", "nation",
              "region", "events", "documents", "embeddings")

    def prepare(self) -> None:
        rng = random.Random(self.seed)
        self.values = [rng.randrange(MR_LO, MR_HI) for _ in range(MR_INTS)]

    def ops(self, spark) -> list[Op]:
        names = OLAP_QUERIES + KERNEL_QUERIES
        oracle = self.oracles(names)
        expected = prime_sum(self.values)
        return ([query_op(spark, n, oracle[n]) for n in names]
                + [map_reduce_op(spark, m, self.values, expected)
                   for m in ("volume_uniform", "element_sequential")])


class CorpusFresh(Workload):
    """Text, dedup and similarity queries plus the curation pipeline on a
    dup-heavy corpus read through fresh paths."""

    name = "corpus_fresh"
    fresh_paths = True
    tables = ("documents", "embeddings")
    n_docs = CORPUS_BASE_DOCS * gen.COPIES

    def prepare(self) -> None:
        corpus = gen.dataset(
            self.cache, f"corpus-b{CORPUS_BASE_DOCS}-s{self.seed}",
            lambda d: gen.write_corpus(self.seed, CORPUS_BASE_DOCS, d))
        self.files["documents"] = os.path.join(corpus, "documents.parquet")
        self.data_dir = self.pass_dir()  # what the oracles read

    def ops(self, spark) -> list[Op]:
        oracle = self.oracles(CORPUS_QUERIES)
        return ([query_op(spark, n, oracle[n]) for n in CORPUS_QUERIES]
                + [curate_op(spark, self.n_docs, self.scratch)])


WORKLOADS = {w.name: w for w in (OlapRepeat, CorpusFresh)}

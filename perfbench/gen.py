"""Inputs of the benchmark.

The benchmark reads the engine's own fixture tables at sf 0.1 and sf 0.001
from ``perfbench/data``: byte-identical copies of the engine's default
dataset (``sources.io.DEFAULT_SF_DIR``) and its sf 0.001 sibling, kept here
because a run reads only inside its checkout.

``corpus`` makes the one generated input, the dup-heavy document set of
the ``corpus_fresh`` workload, from the sf 0.1 ``documents`` table: the
seed picks ``base_docs`` documents, one from each stratum of a split by
text length, and each appears ``COPIES`` times, as the original, one
byte-identical copy and ``COPIES - 2`` near-duplicates in which a fixed
share of tokens is replaced by other tokens of the table's vocabulary.
Doc ids follow a seeded shuffle, so copies are not adjacent. The same
seed gives byte-identical parquet, another seed other documents.

A dataset is written once into ``<cache>/<name>`` through a staging
directory and published by rename together with a ``_COMPLETE`` marker,
so a killed build is never mistaken for a finished one.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SF01_DIR = os.path.join(HERE, "data", "sf0.1")
SF0001_DIR = os.path.join(HERE, "data", "sf0.001")
MARKER = "_COMPLETE"

# the dup-heavy corpus: every base document appears COPIES times
COPIES = 4
NEAR_DUP_SWAP = 0.08  # share of tokens replaced in a near-duplicate


def corpus(seed: int, docs: pa.Table, base_docs: int) -> pa.Table:
    """``base_docs × COPIES`` documents drawn from ``docs``."""
    rng = np.random.default_rng([seed, COPIES])
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    sources = docs.column("source").to_pylist()
    vocab = sorted({w for t in texts for w in t.split()})
    # one document from each of ``base_docs`` strata of equal size, by
    # length: the corpus size in tokens hardly changes with the seed
    by_len = np.argsort([len(t) for t in texts], kind="stable")
    picks = [int(s[rng.integers(len(s))]) for s in np.array_split(by_len, base_docs)]
    rows: list[tuple[str, str, str]] = []
    for i in picks:
        rows += [(texts[i], langs[i], sources[i])] * 2
        for _ in range(COPIES - 2):
            near = texts[i].split()
            n_swap = max(1, int(len(near) * NEAR_DUP_SWAP))
            for j in rng.choice(len(near), size=n_swap, replace=False).tolist():
                near[j] = vocab[int(rng.integers(len(vocab)))]
            rows.append((" ".join(near), langs[i], sources[i]))
    rows = [rows[k] for k in rng.permutation(len(rows)).tolist()]
    text = [r[0] for r in rows]
    return pa.table({
        "doc_id": pa.array(np.arange(len(rows)), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def dataset(cache: str, name: str, build) -> str:
    """Return ``<cache>/<name>``, building it with ``build(dir)`` first
    unless a completed copy is there. A directory without the marker is
    the remains of a killed build and is rebuilt."""
    final = os.path.join(cache, name)
    if os.path.exists(os.path.join(final, MARKER)):
        os.utime(final)  # most recently used: kept by the cache pruning
        return final
    stage = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    build(stage)
    with open(os.path.join(stage, MARKER), "w") as f:
        f.write("ok\n")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(stage, final)
    return final


def write_corpus(seed: int, base_docs: int, out_dir: str) -> None:
    docs = pq.read_table(os.path.join(SF01_DIR, "documents.parquet"))
    pq.write_table(corpus(seed, docs, base_docs),
                   os.path.join(out_dir, "documents.parquet"))


def fresh_view(files: dict[str, str], dst: str) -> str:
    """A new directory of hard links to ``files`` (table name -> parquet
    file): the same bytes under a path the engine has never read."""
    os.makedirs(dst)
    for table, src in files.items():
        os.link(src, os.path.join(dst, f"{table}.parquet"))
    return dst

"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from types import SimpleNamespace

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


SMALL_DOCS = pq.read_table(os.path.join(gen.SF0001_DIR, "documents.parquet"))


def test_same_seed_gives_byte_identical_parquet(tmp_path):
    for d in ("a", "b"):
        pq.write_table(gen.corpus(5, SMALL_DOCS, 20), tmp_path / f"{d}.parquet")
    assert filecmp.cmp(tmp_path / "a.parquet", tmp_path / "b.parquet", shallow=False)


def test_other_seed_gives_other_data():
    assert not gen.corpus(5, SMALL_DOCS, 20).equals(gen.corpus(6, SMALL_DOCS, 20))


def test_corpus_is_dup_heavy_and_its_size_hardly_moves_with_the_seed():
    docs = gen.corpus(3, SMALL_DOCS, 50).to_pandas()
    assert len(docs) == 50 * gen.COPIES
    assert docs["text"].nunique() < len(docs)  # exact copies are present
    assert docs["text"].nunique() > len(docs) // gen.COPIES  # near-duplicates too
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    sizes = [gen.corpus(s, SMALL_DOCS, 50).column("n_chars").to_numpy().sum()
             for s in range(5)]
    assert max(sizes) < 1.1 * min(sizes)


def test_fixture_copies_match_the_engines_default_dataset():
    from mapreduce_framework_simple_spark.sources.io import DEFAULT_SF_DIR

    if not os.path.isdir(DEFAULT_SF_DIR):
        pytest.skip("the engine's default dataset is not on this machine")
    names = sorted(os.listdir(gen.SF01_DIR))
    assert names == sorted(f for f in os.listdir(DEFAULT_SF_DIR) if f.endswith(".parquet"))
    _, mismatch, errors = filecmp.cmpfiles(gen.SF01_DIR, DEFAULT_SF_DIR, names, shallow=False)
    assert not mismatch and not errors


def test_every_op_layer_has_per_layer_metrics():
    from mapreduce_framework_simple_spark import registry

    registry.load_all()
    names = workloads.OLAP_QUERIES + workloads.KERNEL_QUERIES + workloads.CORPUS_QUERIES
    layers = {registry.QUERIES[n].__module__.rsplit(".", 1)[-1] for n in names}
    assert layers | {"mapreduce", "pipeline"} <= set(run.LAYERS)


def test_dataset_rebuilds_a_build_without_marker(tmp_path):
    calls = []

    def build(d):
        calls.append(d)

    os.makedirs(tmp_path / "x")  # remains of a killed build: no marker
    path = gen.dataset(str(tmp_path), "x", build)
    assert os.path.exists(os.path.join(path, gen.MARKER)) and len(calls) == 1
    gen.dataset(str(tmp_path), "x", build)
    assert len(calls) == 1


def _records(n_passes=2, ops=("q01", "q03", "q05"), traced=False):
    recs = []
    for p in range(n_passes):
        for i, op in enumerate(ops):
            rec = {"op": op, "layer": "relational", "pass": p, "traced": traced,
                   "ok": True, "latency_s": 0.5 + i, "build_s": 0.1, "exec_s": 0.4 + i,
                   "release_s": 0.01, "storage_mb_peak": 1.0}
            rec.update({f: 1.0 for f in run.OP_FIELDS if f not in rec})
            recs.append(rec)
    return recs


def _names(section):
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_end_to_end_names_and_units_match_benchmark_json():
    recs = _records()
    passes = [{"pass": 0, "traced": False, "pass_s": 4.0, "pass_cpu_s": 9.0},
              {"pass": 1, "traced": False, "pass_s": 5.0, "pass_cpu_s": 9.5}]
    out = run.result(recs, run.end_to_end(passes, 10.0))
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _names("end_to_end")
    assert out["correct"] and out["attempted"] == len(recs) and out["failed"] == 0


def test_per_layer_names_and_units_match_benchmark_json(tmp_path):
    recs = _records(traced=True)
    passes = [{"pass": 0, "traced": False, "pass_s": 4.0},
              {"pass": 1, "traced": True, "pass_s": 4.2}]
    setup = {"session.start_s": 1.0, "registry.load_all_s": 0.1, "warmup_s": 5.0}
    wl = SimpleNamespace(scratch=str(tmp_path), files={
        "documents": os.path.join(gen.SF0001_DIR, "documents.parquet")})
    metrics = run.per_layer(recs, passes, setup, (0.05, 1.0), 900.0, 4,
                            run.module_extras(recs, wl))
    out = run.result(recs, metrics)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _names("per_layer")
    assert metrics["relational.jobs"] == 3.0 and metrics["dedup.jobs"] == 0.0


def test_workload_names_match_benchmark_json():
    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}


def test_perturbed_query_result_is_caught():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    check = workloads.QueryCheck(oracle)
    assert check(oracle.sample(frac=1.0, random_state=1)) == []  # row order is free
    bad = oracle.copy()
    bad.loc[1, "v"] += 1e-9
    assert check(bad)
    assert check(oracle.iloc[:2])
    assert check(oracle.rename(columns={"v": "w"}))


def test_perturbed_curate_report_is_caught():
    good = {"n_total": 100, "n_after_quality": 90, "n_after_exact_dedup": 70,
            "n_after_neardup": 50, "n_curated": 45, "dropped_quality": 10,
            "dropped_exact": 20, "dropped_neardup": 20, "dropped_contaminated": 5}
    assert workloads.check_curate_report(good, 100) == []
    for key, delta in (("n_curated", 1), ("dropped_exact", -1), ("n_total", 1)):
        bad = dict(good, **{key: good[key] + delta})
        assert workloads.check_curate_report(bad, 100), key


def test_prime_sum_reference():
    assert workloads.prime_sum([1, 2, 3, 4, 5, 9, 11, 1_000_003]) == 2 + 3 + 5 + 11 + 1_000_003
    assert workloads._prime_mapper()([2, 3, 4, 97, 100]) == 2 + 3 + 97


class _FakeCatalog:
    def clearCache(self):
        pass


class _FakeSpark:
    catalog = _FakeCatalog()


@pytest.mark.parametrize("perturb", [False, True])
def test_failed_check_counts_as_failed_op(perturb):
    oracle = pd.DataFrame({"k": [1, 2], "v": [3.0, 4.0]})
    got = oracle.assign(v=[3.0, 4.5]) if perturb else oracle

    def call(_sf_dir, mark):
        mark()
        return got

    op = workloads.Op("q_test", "relational", call,
                      workloads.QueryCheck(oracle))
    runner = run.Runner(_FakeSpark())
    rec = runner.run_op(op, "unused", check=True)
    assert rec["ok"] is (not perturb)
    out = run.result(runner.records, {})
    assert out["failed"] == int(perturb) and out["correct"] is (not perturb)


def test_raising_op_counts_as_failed():
    def call(_sf_dir, _mark):
        raise RuntimeError("boom")

    op = workloads.Op("q_raise", "relational", call, lambda r: [])
    runner = run.Runner(_FakeSpark())
    assert runner.run_op(op, "unused", check=True)["ok"] is False
    assert run.result(runner.records, {})["failed"] == 1

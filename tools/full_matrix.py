"""Emit CORRECTNESS_full.json — the FULL-matrix correctness artifact.

The round driver hash-samples ~50 of the declared queries per round, so
most of the surface never gets a driver CORRECTNESS row in any given
round. This tool runs EVERY registered query through the same protocol
(vanilla SparkSession, sf0.01 parquet, DuckDB oracle, strict
column-sorted/dtype-sensitive value compare) and writes one row per
query in the driver's exact format, as a committed per-round artifact
the judge can audit without rerunning.

Usage:  python tools/full_matrix.py [--out PATH] [--sf-dir DIR]
        (--sf-dir defaults to $SPARK_GRAFT_SF_DIR, then
        /root/testdata/sf0.01; unknown arguments exit non-zero)

Must be run with cwd OUTSIDE the repo only if you want the closure-
serialization check too (tests/drive_entry.py covers that); this tool
focuses on the compare matrix.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

# The only queries allowed to lack a DuckDB oracle (mirrors
# tests/test_oracle.py::ROWS_ONLY, which pins this set against growth).
# Each gets a BOUNDED CHECK computed inline below — a machine-verified
# error/recall/invariant bound recorded per row as
# {"bounded_check": ..., "bound_pass": ...} that FAILS the matrix when
# violated, so no row in the artifact is ever "unverified by
# construction"; the test-suite twins (recall, convergence,
# determinism) remain the deeper checks.
ROWS_ONLY_TWINS = {
    "q41_ann_ivf": "recall == probe-coverage ceiling (inline bound); "
                   "recall >= 0.6 vs exact q40 at test SF "
                   "(tests/test_similarity_dedup.py)",
    "q45_approx_distinct": "HLL sketch; exact twin q12 oracle-checked",
    "q68_kmeans": "deterministic seeding + convergence trace (tests/test_iterative.py)",
    "q72_approx_percentile": "sketch; exact twin q58 oracle-checked",
    "q104_pagerank": "L1-delta monotonicity + mass invariants (tests/test_iterative.py)",
}


# ---- inline bounded checks for the rows-only queries ----
# Each takes (sdf: pandas result of the Spark query, con: the DuckDB
# connection with the sf tables registered, oracles: the oracle_sql
# dict, oracle_frames: already-fetched oracle results for the names in
# ORACLE_FRAMES_TO_KEEP) and returns (description, passed, detail).
# The exact side is recomputed in DUCKDB (independent engine), so a
# bound failure can never be a shared-bug artifact.

# oracle results the main loop retains for the checkers — q40's oracle
# (full corpus cross-join cosine) is the most expensive DuckDB query in
# the sweep, and sorted iteration runs it right before q41's check
# would otherwise recompute it
ORACLE_FRAMES_TO_KEEP = {"q40_cosine_topk"}


def _check_q45(sdf, con, oracles, oracle_frames):
    exact = con.execute(
        "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n"
        " FROM orders GROUP BY 1"
    ).fetchdf().set_index("o_orderstatus")["n"]
    worst = 0.0
    for _, r in sdf.iterrows():
        e = float(exact[r["o_orderstatus"]])
        worst = max(worst, abs(float(r["n_custs_approx"]) - e) / e)
    ok = set(sdf["o_orderstatus"]) == set(exact.index) and worst <= 0.05
    return (
        "HLL(rsd=0.01) relative error vs DuckDB exact distinct <= 5% per group",
        ok,
        f"max_rel_err={worst:.4f}, groups={len(sdf)}/{len(exact)}",
    )


def _check_q72(sdf, con, oracles, oracle_frames):
    # percentile_approx returns an ACTUAL element whose rank is within
    # the sketch tolerance of the target — so the bound is on the RANK
    # of the returned value inside its group, tie-aware:
    # frac(< v) <= target + tol  AND  frac(<= v) >= target - tol.
    # Group coverage is asserted first: the rank loop iterates sdf's
    # rows, so an empty or group-dropping result would otherwise pass
    # vacuously with max_rank_err=0.
    exact_groups = {
        r[0]
        for r in con.execute(
            "SELECT DISTINCT l_returnflag FROM lineitem"
        ).fetchall()
    }
    tol, worst = 0.01, 0.0
    ok = set(sdf["l_returnflag"]) == exact_groups
    for _, r in sdf.iterrows():
        for col, target, val_col in (
            ("l_quantity", 0.5, "med_qty_approx"),
            ("l_extendedprice", 0.9, "p90_price_approx"),
        ):
            v = float(r[val_col])
            lt, le, n = con.execute(
                f"SELECT count(*) FILTER (WHERE {col} < ?),"
                f" count(*) FILTER (WHERE {col} <= ?), count(*)"
                f" FROM lineitem WHERE l_returnflag = ?",
                [v, v, r["l_returnflag"]],
            ).fetchone()
            if not n:
                ok = False
                continue
            excess = max(lt / n - target, target - le / n, 0.0)
            worst = max(worst, excess)
            ok = ok and excess <= tol
    return (
        "approx_percentile(accuracy=10000) rank error vs DuckDB <= 1% "
        "(tie-aware), all groups present",
        ok,
        f"max_rank_err={worst:.4f}, groups={len(sdf)}/{len(exact_groups)}",
    )


def _check_q41(sdf, con, oracles, oracle_frames):
    # The scale-invariant IVF correctness bound: an exact top-k neighbor
    # whose assigned cell IS among the query's probed cells must appear
    # in the approx top-k (it is a candidate, and it ranks <= k among
    # any subset under the same comparator), so recall must EQUAL the
    # coverage ceiling — the fraction of exact neighbors that lie in
    # probed cells, computed here entirely in DuckDB with the engine's
    # ranking rule (cos rounded 6 dp, ties by cell_id). A flat recall
    # threshold is NOT scale-invariant on the weakly-clustered synthetic
    # embeddings (fixed N_PROBE=6 covers 6/17 cells at sf0.01 but 6/65
    # at sf0.1 — recall 0.62 vs 0.36, both with conditional recall 1.0),
    # so the bound is recall ~= ceiling, not recall >= constant.
    # What is INDEPENDENT here and what is deliberately SHARED: the
    # cosine below is DuckDB's native list_cosine_similarity kernel —
    # an implementation the engine never touches (the engine scores in
    # Spark expressions; its ORACLES use the repo's _duck_dot/_duck_norm
    # lambda SQL; this check uses neither) — so a bug in the repo's
    # shared cosine helpers cannot pass both sides of this bound. The
    # GEOMETRY constants (centroid stride, query stride, N_PROBE) are
    # intentionally shared: they are the probe CONTRACT being checked
    # (which cells the engine promises to look in), not a computation
    # that could silently agree by common code.
    from mapreduce_framework_simple_spark.operators.similarity import (
        N_CELLS_STRIDE,
        N_PROBE,
        QUERY_STRIDE,
    )

    exact = oracle_frames.get("q40_cosine_topk")
    if exact is None:  # only if q40's own row errored before fetch
        exact = con.execute(oracles["q40_cosine_topk"]).fetchdf()
    e = set(zip(exact["query_id"], exact["neighbor_id"]))
    a = set(zip(sdf["query_id"], sdf["neighbor_id"]))
    recall = len(e & a) / len(e) if e else 0.0
    all_answered = set(sdf["query_id"]) == set(exact["query_id"])

    def cos(x, y):
        # independently written: DuckDB's native cosine over
        # double-cast lists, same 6-dp rounding as the engine's
        # declared ranking rule (verified to agree with the lambda
        # formulation at 6 dp; no zero-norm vectors in the corpus)
        return (
            f"round(list_cosine_similarity("
            f"list_transform({x}, v -> CAST(v AS DOUBLE)), "
            f"list_transform({y}, v -> CAST(v AS DOUBLE))), 6)"
        )

    con.register("exact_topk", exact)
    try:
        # assignment only for the <= Q*k distinct exact neighbors (the
        # ceiling needs no other vector), probes for the Q queries —
        # both O(Q*k*K) cosines, never corpus-quadratic
        covered, total = con.execute(f"""
        WITH cents AS (SELECT vec_id AS cell_id, embedding AS c_emb
                       FROM embeddings WHERE vec_id % {N_CELLS_STRIDE} = 0),
        nb AS (SELECT DISTINCT neighbor_id FROM exact_topk),
        nbv AS (SELECT e.vec_id, e.embedding FROM embeddings e
                JOIN nb ON nb.neighbor_id = e.vec_id),
        assign AS (SELECT vec_id, cell_id FROM (
            SELECT v.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY {cos("v.embedding", "c.c_emb")} DESC,
                               c.cell_id) AS rn
            FROM nbv v CROSS JOIN cents c) t WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb
              FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0),
        probes AS (SELECT query_id, cell_id FROM (
            SELECT q.query_id, c.cell_id,
                   row_number() OVER (PARTITION BY q.query_id
                      ORDER BY {cos("q.q_emb", "c.c_emb")} DESC,
                               c.cell_id) AS rn
            FROM q CROSS JOIN cents c) t WHERE rn <= {N_PROBE})
        SELECT count(*) FILTER (WHERE p.cell_id IS NOT NULL), count(*)
        FROM exact_topk x
        JOIN assign a ON a.vec_id = x.neighbor_id
        LEFT JOIN probes p ON p.query_id = x.query_id
                          AND p.cell_id = a.cell_id
        """).fetchone()
    finally:
        con.unregister("exact_topk")
    ceiling = covered / total if total else 0.0
    # |recall - ceiling| <= 0.02: a shortfall means the engine missed a
    # neighbor inside a probed cell (ranking bug); an excess means the
    # check's geometry diverged from the engine's. 0.02 absorbs rare
    # 6-dp cosine ties that rank differently across engines.
    ok = total > 0 and abs(recall - ceiling) <= 0.02 and all_answered
    return (
        "IVF ANN recall == DuckDB-computed probe-coverage ceiling (+-0.02), "
        "every query answered",
        ok,
        f"recall={recall:.3f}, ceiling={ceiling:.3f} ({covered}/{total}), "
        f"all_queries_answered={all_answered}",
    )


def _check_q68(sdf, con, oracles, oracle_frames):
    n_vecs = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    from mapreduce_framework_simple_spark.operators.iterative import K

    full = int(sdf["n_members"].sum()) == int(n_vecs)
    sized = 1 <= len(sdf) <= K
    cos_ok = bool(
        ((sdf["mean_sim"] >= -1 - 1e-9) & (sdf["mean_sim"] <= 1 + 1e-9)).all()
    )
    return (
        f"k-means partition invariants: sum(n_members)==N({n_vecs}), "
        f"1<=clusters<={K}, mean cosine in [-1,1]",
        full and sized and cos_ok,
        f"sum_members={int(sdf['n_members'].sum())}, clusters={len(sdf)}, "
        f"cos_in_range={cos_ok}",
    )


def _check_q104(sdf, con, oracles, oracle_frames):
    n_supp = con.execute(
        "SELECT count(DISTINCT l_suppkey) FROM lineitem"
    ).fetchone()[0]
    valid_keys = {
        r[0]
        for r in con.execute("SELECT s_suppkey FROM supplier").fetchall()
    }
    ranks = list(sdf["rank"])
    expected_rows = min(10, int(n_supp))
    checks = {
        "row_count": len(sdf) == expected_rows,
        "keys_valid": set(sdf["suppkey"]).issubset(valid_keys),
        "ranks_positive": all(x > 0 for x in ranks),
        "sorted_desc": all(
            ranks[i] >= ranks[i + 1] for i in range(len(ranks) - 1)
        ),
    }
    return (
        "pagerank top-10 invariants: rows==min(10, distinct suppliers in "
        "lineitem), suppkeys exist in supplier, ranks positive + sorted desc",
        all(checks.values()),
        ", ".join(f"{k}={v}" for k, v in checks.items()),
    )


BOUNDED_CHECKS = {
    "q45_approx_distinct": _check_q45,
    "q72_approx_percentile": _check_q72,
    "q41_ann_ivf": _check_q41,
    "q68_kmeans": _check_q68,
    "q104_pagerank": _check_q104,
}


def main() -> int:
    # explicit flags, strict parsing: a bare positional out-path used to
    # silently accept flag-looking arguments (an `--sf ...` invocation
    # wrote the matrix to a file literally named `--sf`) — for a
    # protocol-critical artifact writer that's too fragile. argparse
    # rejects unknown args with usage + non-zero exit, and the out dir
    # is validated BEFORE the Spark session spends minutes running.
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--out",
        default=os.path.join(REPO, "CORRECTNESS_full.json"),
        help="artifact path (default: <repo>/CORRECTNESS_full.json)",
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="scale-factor parquet directory "
        "(default: $SPARK_GRAFT_SF_DIR, then /root/testdata/sf0.01)",
    )
    args = ap.parse_args()
    out_path, sf_dir = args.out, args.sf_dir
    out_dir = os.path.dirname(os.path.abspath(out_path))
    if not os.path.isdir(out_dir):
        ap.error(f"--out directory does not exist: {out_dir}")
    if not os.path.isdir(sf_dir):
        ap.error(f"--sf-dir is not a directory: {sf_dir}")

    from pyspark.sql import SparkSession

    from mapreduce_framework_simple_spark.session import DEFAULT_CPUS

    spark = (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName("full-matrix")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from oracle_harness import compare_frames, duck_connection

    qs = E.queries()
    oracles = E.oracle_sql()
    con = duck_connection(sf_dir)

    results: dict[str, dict] = {}
    oracle_frames: dict[str, object] = {}
    n_fail = 0
    t_all = time.time()
    for name in sorted(qs):
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            row["spark_rows"] = int(len(sdf))
        except Exception as ex:  # noqa: BLE001 — the artifact records the error
            row["err"] = f"spark: {type(ex).__name__}: {str(ex)[:300]}"
            results[name] = row
            n_fail += 1
            print(f"  {name}: SPARK ERROR")
            continue
        if name not in oracles:
            row["err"] = "no_oracle"
            row["rows_only_check"] = ROWS_ONLY_TWINS.get(
                name, "UNDOCUMENTED rows-only query — add a twin/recall check"
            )
            # err stays "no_oracle" in EVERY branch below — it is the
            # protocol marker "not hash-compared" that n_rows_only and
            # the accounting identity (n_oracle_checked + n_rows_only
            # == n_queries) key on; bound failures are recorded in
            # bound_pass (and counted into n_fail), never by rewriting
            # the row's classification
            checker = BOUNDED_CHECKS.get(name)
            if checker is None:
                # a rows-only query without a bounded check is itself a
                # matrix FAILURE — "unverified by construction" rows are
                # exactly what this block exists to eliminate
                row["bounded_check"] = "MISSING — add one to BOUNDED_CHECKS"
                row["bound_pass"] = False
                n_fail += 1
                print(f"  {name}: NO BOUNDED CHECK ({row['spark_rows']} rows)")
            else:
                try:
                    desc, passed, detail = checker(sdf, con, oracles,
                                                   oracle_frames)
                except Exception as ex:  # noqa: BLE001 — record, don't abort
                    desc, passed, detail = (
                        "bounded check crashed",
                        False,
                        f"{type(ex).__name__}: {str(ex)[:200]}",
                    )
                row["bounded_check"] = (
                    f"{desc} [{detail}]"
                    if passed
                    else f"FAILED: {desc} [{detail}]"
                )
                row["bound_pass"] = bool(passed)
                if not passed:
                    n_fail += 1
                status = "bound OK" if passed else "BOUND FAIL"
                print(f"  {name}: {status} ({detail})")
            results[name] = row
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
            row["oracle_rows"] = int(len(ddf))
            if name in ORACLE_FRAMES_TO_KEEP:
                oracle_frames[name] = ddf
        except Exception as ex:  # noqa: BLE001
            row["err"] = f"duckdb: {type(ex).__name__}: {str(ex)[:300]}"
            results[name] = row
            n_fail += 1
            print(f"  {name}: DUCK ERROR")
            continue
        try:
            problems = compare_frames(sdf, ddf, strict=True)
        except Exception as ex:  # noqa: BLE001 — a compare crash (e.g.
            # mixed-type object column breaking sort_values) must record
            # ONE row's error, not abort the whole matrix artifact
            row["err"] = f"compare: {type(ex).__name__}: {str(ex)[:300]}"
            results[name] = row
            n_fail += 1
            print(f"  {name}: COMPARE ERROR")
            continue
        row["rows_match"] = len(sdf) == len(ddf)
        # None (unknown), not True, when the compare short-circuited on
        # row count before the dtype/column checks ever ran
        row["schema_match"] = (
            None
            if any("row counts differ" in p for p in problems)
            else not any(
                "dtype drift" in p or "columns differ" in p for p in problems
            )
        )
        row["hash_match"] = not problems
        if problems:
            row["err"] = "; ".join(p[:160] for p in problems[:3])
            n_fail += 1
        results[name] = row
        print(f"  {name}: {'OK' if not problems else 'MISMATCH'}")

    # the tree this run actually measured — makes artifact staleness
    # machine-checkable (round-6 lesson: a committed matrix predated 5
    # semantics-touching commits while claiming to be the final tree).
    # "-dirty" marks uncommitted changes in the run's working tree.
    try:
        import subprocess

        git_head = subprocess.check_output(
            ["git", "rev-parse", "HEAD"], cwd=REPO, text=True).strip()
        # dirtiness scoped to the CODE the matrix measures — the round
        # driver appends to PROGRESS.jsonl continuously and this tool
        # itself overwrites the artifact files, either of which would
        # false-flag every run as dirty
        code_paths = ["mapreduce_framework_simple_spark", "__spark_entry__.py",
                      "bench.py", "tools", "tests"]
        # untracked NEW code files count as dirty too — `git diff HEAD`
        # ignores them, but registry.load_all imports the whole package,
        # so an uncommitted new operator module changes what this run
        # measures exactly like an edit to a tracked file would
        untracked = subprocess.check_output(
            ["git", "ls-files", "--others", "--exclude-standard", "--",
             *code_paths],
            cwd=REPO, text=True,
        ).strip()
        if untracked or subprocess.run(
            ["git", "diff", "--quiet", "HEAD", "--", *code_paths],
            cwd=REPO,
        ).returncode:
            git_head += "-dirty"
    except Exception:
        git_head = "unknown"

    artifact = {
        "_meta": {
            "git_head": git_head,
            "sf_dir": sf_dir,
            "n_queries": len(qs),
            "n_oracle_checked": sum(
                1 for r in results.values() if r["hash_match"] is not None
            ),
            "n_pass": sum(1 for r in results.values() if r["hash_match"] is True),
            "n_rows_only": sum(
                1 for r in results.values() if r["err"] == "no_oracle"
            ),
            # rows-only queries carrying a PASSED machine-checked bound
            # (error/recall/invariant vs an independent DuckDB exact
            # side) — a failed or missing bound counts into n_fail
            "n_bound_pass": sum(
                1 for r in results.values() if r.get("bound_pass") is True
            ),
            "n_fail": n_fail,
            "wall_s": round(time.time() - t_all, 1),
            "protocol": "strict compare_frames (exact floats, dtype kinds), "
                        "columns sorted by name — mirrors the driver hash; "
                        "rows-only queries carry inline bounded checks",
        },
        **results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    m = artifact["_meta"]
    print(
        f"\n{m['n_pass']}/{m['n_oracle_checked']} oracle-checked pass, "
        f"{m['n_rows_only']} rows-only ({m['n_bound_pass']} bound-checked "
        f"pass), {n_fail} failures ({m['wall_s']}s) -> {out_path}"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

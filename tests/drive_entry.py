"""Drive the driver contract exactly as the verify harness would:
vanilla SparkSession (none of the engine's tuned configs), sf0.01,
import __spark_entry__, run entry() + every queries() entry, compare
each against oracle_sql() via DuckDB, and run each rows-only query's
bounded check from tools/full_matrix.py.
"""
import sys, time, os

# repo root derived from THIS file (tests/..), like every other tool —
# a hardcoded /root/repo broke the sim for any other checkout location
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

t0 = time.time()
edf = E.entry(spark)
rows = edf.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in edf.schema.fields]}, {time.time()-t0:.1f}s")
assert len(rows) > 0

qs = E.queries()
qs2 = E.queries()  # idempotency probe
assert qs.keys() == qs2.keys()
oracles = E.oracle_sql()
print(f"{len(qs)} queries, {len(oracles)} oracles")

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
sys.path.insert(0, os.path.join(REPO, "tests"))
# duck_connection registers views for every table in sources.io.TABLES —
# reusing it (instead of a hardcoded list here) means a table added to
# the engine is automatically visible to the oracles in this sim too
from oracle_harness import compare_frames, duck_connection

sys.path.insert(0, os.path.join(REPO, "tools"))
from full_matrix import BOUNDED_CHECKS, ORACLE_FRAMES_TO_KEEP

con = duck_connection(SF)

fails = []
rows_only = []
n_bound_ok = 0
oracle_frames = {}
for name in sorted(qs):
    t0 = time.time()
    try:
        sdf = qs[name](spark, SF).toPandas()
    except Exception as ex:
        fails.append((name, f"SPARK ERROR: {ex}"))
        print(f"  {name}: SPARK ERROR {str(ex)[:120]}")
        continue
    dt = time.time() - t0
    if name not in oracles:
        rows_only.append(name)
        checker = BOUNDED_CHECKS.get(name)
        if checker is None:
            passed, detail = False, "no bounded check in tools/full_matrix.py"
        else:
            try:
                _, passed, detail = checker(sdf, con, oracles, oracle_frames)
            except Exception as ex:  # a crashed check fails one query
                passed, detail = False, f"CHECK ERROR: {ex}"
        n_bound_ok += bool(passed)
        if not passed:
            fails.append((name, f"BOUND FAIL: {detail}"))
        status = "bound OK" if passed else "BOUND FAIL"
        print(f"  {name}: rows-only, {status} ({detail}), {len(sdf)} rows, {dt:.1f}s")
        continue
    try:
        ddf = con.execute(oracles[name]).fetchdf()
    except Exception as ex:
        fails.append((name, f"DUCK ERROR: {ex}"))
        print(f"  {name}: DUCK ERROR {str(ex)[:120]}")
        continue
    if name in ORACLE_FRAMES_TO_KEEP:
        oracle_frames[name] = ddf
    try:
        problems = compare_frames(sdf, ddf)
    except Exception as ex:  # a compare crash records one query's failure,
        problems = [f"COMPARE ERROR: {ex}"]  # not an aborted sim
    status = "OK" if not problems else f"MISMATCH {problems[:2]}"
    if problems:
        fails.append((name, status))
    print(f"  {name}: {status} ({len(sdf)} rows, {dt:.1f}s)")

n_checked = len(qs) - len(rows_only)
n_bound_fail = len(rows_only) - n_bound_ok
print(
    f"\n{'='*60}\n{n_checked - len(fails) + n_bound_fail}/{n_checked} "
    f"oracle-checked queries verified, {n_bound_ok}/{len(rows_only)} "
    f"rows-only bounded checks passed, {len(fails)} failures"
)
for n, p in fails:
    print(f"FAIL {n}: {str(p)[:300]}")
sys.exit(1 if fails else 0)

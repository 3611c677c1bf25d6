"""Driver-simulation: consume __spark_entry__ exactly as the round driver does."""
import os
import sys
import time

# import the package from the checkout this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e

from tools._driver_sim import make_duck, make_spark, value_hash

spark = make_spark("drive-contract")

# 1. entry() smoke — rows >= 0, stable schema across two calls
df1 = e.entry(spark)
rows = df1.collect()
df2 = e.entry(spark)
assert df1.schema == df2.schema, "entry schema unstable"
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df1.schema.fields]}")

# 2. queries() vs oracle_sql() at sf0.01 — driver-style hash compare
SF = "/root/testdata/sf0.01"
con = make_duck(SF)

qs, oracles = e.queries(), e.oracle_sql()
assert set(oracles) <= set(qs), f"oracle keys not in queries: {set(oracles)-set(qs)}"
fails = []
for name, fn in qs.items():
    t0 = time.time()
    sdf = fn(spark, SF)
    srows = [r.asDict() for r in sdf.collect()]
    scols = sdf.columns
    if name not in oracles:
        print(f"  {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
        continue
    ocur = con.execute(oracles[name])
    ocols = [d[0] for d in ocur.description]
    orows = [dict(zip(ocols, row)) for row in ocur.fetchall()]
    ok_cols = sorted(scols) == sorted(ocols)
    ok_cnt = len(srows) == len(orows)
    ok_hash = value_hash(srows, scols) == value_hash(orows, ocols) if ok_cols else False
    status = "OK" if (ok_cols and ok_cnt and ok_hash) else "MISMATCH"
    if status != "OK":
        fails.append((name, ok_cols, ok_cnt, ok_hash, scols, ocols, len(srows), len(orows)))
    print(f"  {name}: {status} spark={len(srows)} duck={len(orows)} ({time.time()-t0:.1f}s)")

if fails:
    for f in fails:
        print("FAIL DETAIL:", f)
    sys.exit(1)
print("ALL CONTRACT CHECKS PASS")

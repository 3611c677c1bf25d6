"""Driver-simulation for a SUBSET of the contract: same hash compare
as tools/drive_contract.py (shared helpers in tools/_driver_sim.py)
but only for the query names given on the command line.

  --json PATH  additionally write the per-query results in the
            CORRECTNESS_r*.json row shape (rows_match / schema_match
            / hash_match / spark_rows / oracle_rows / err), a
            machine-auditable artifact of the run.

Usage:
    python tools/drive_subset.py name1 name2 ... [--json PATH]
"""
import json
import os
import sys
import time

# import the package from the checkout this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402

from tools._driver_sim import (  # noqa: E402
    SF_DEFAULT,
    make_duck,
    make_spark,
    value_hash,
)


def main() -> int:
    qs, oracles = e.queries(), e.oracle_sql()
    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 == len(args) or args[i + 1].startswith("--"):
            print("--json needs a PATH")
            return 2
        json_path = args[i + 1]
        del args[i:i + 2]
    names = args
    unknown = [n for n in names if n not in qs]
    if unknown:
        print("unknown queries:", unknown)
        return 2

    spark = make_spark("drive-subset")
    con = make_duck(SF_DEFAULT)

    fails = []
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        row = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        try:
            sdf = qs[name](spark, SF_DEFAULT)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
            row["spark_rows"] = len(srows)
            if name not in oracles:
                # rows-only (no SQL-expressible oracle): mirror the
                # driver's weaker check — ran + produced rows
                row.update(rows_match=True, schema_match=True,
                           hash_match=None)
                results[name] = row
                print(f"  {name}: rows-only, {len(srows)} rows "
                      f"({time.time() - t0:.1f}s)")
                continue
            ocur = con.execute(oracles[name])
            ocols = [d[0] for d in ocur.description]
            orows = [dict(zip(ocols, r)) for r in ocur.fetchall()]
            row["oracle_rows"] = len(orows)
            row["schema_match"] = sorted(scols) == sorted(ocols)
            row["rows_match"] = len(srows) == len(orows)
            row["hash_match"] = (
                value_hash(srows, scols) == value_hash(orows, ocols)
                if row["schema_match"] else False)
            ok = (row["schema_match"] and row["rows_match"]
                  and row["hash_match"])
            if not ok:
                fails.append((name, row["schema_match"],
                              row["rows_match"], row["hash_match"],
                              scols, ocols, len(srows), len(orows)))
            print(f"  {name}: {'OK' if ok else 'MISMATCH'} "
                  f"spark={len(srows)} duck={len(orows)} "
                  f"({time.time() - t0:.1f}s)")
        except Exception as exc:  # noqa: BLE001 — artifact records it
            row["err"] = f"{type(exc).__name__}: {exc}"[:500]
            fails.append((name, row["err"]))
            print(f"  {name}: ERROR {row['err']}")
        results[name] = row

    if json_path:
        with open(json_path, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {json_path} ({len(results)} rows)")
    for f in fails:
        print("FAIL DETAIL:", f)
    if fails:
        return 1
    print("SUBSET CHECKS PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())

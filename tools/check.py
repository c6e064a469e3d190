#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
parquet against the DuckDB oracle SQL on the same sf dir, compare
row-for-row with columns sorted by name. Usage:
  python3 tools/check.py <sfdir> <verify_outdir>
(Driver-side tooling only — not part of the shipped library.)
"""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
# optional third arg: write a driver-style JSON record (name ->
# rows/schema/hash verdicts) alongside the text output — used for the
# committed scale-sweep records (VERDICT r9 #6)
json_out = sys.argv[3] if len(sys.argv) > 3 else None
record = {}
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0
for name in sorted(oracle):
    res_dir = f"{outdir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails += 1
        record[name] = dict(rows_match=False, schema_match=False,
                            hash_match=False, err="no_spark_output")
        continue
    try:
        got = con.sql(f"SELECT * FROM '{files[0]}'").df()
        want = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}"); fails += 1
        record[name] = dict(rows_match=False, schema_match=False,
                            hash_match=False, err=f"oracle_error: {e}"[:200])
        continue
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}"); fails += 1
        record[name] = dict(rows_match=None, schema_match=False,
                            hash_match=False, err="schema_mismatch")
        continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); fails += 1
        record[name] = dict(rows_match=False, schema_match=True,
                            hash_match=False, spark_rows=len(got),
                            oracle_rows=len(want), err="row_count")
        continue
    import pandas as pd
    mismatch = None
    for c in got.columns:
        a, b = got[c], want[c]
        if str(a.dtype) != str(b.dtype):
            mismatch = f"dtype[{c}] {a.dtype} vs {b.dtype}"; break
        if not a.equals(b):
            bad = (a != b) & ~(a.isna() & b.isna())
            i = bad[bad].index[0] if bad.any() else None
            if i is not None:
                mismatch = f"val[{c}] row{i}: {a[i]!r} vs {b[i]!r}"; break
    if mismatch:
        print(f"FAIL {name}: {mismatch}"); fails += 1
    record[name] = dict(rows_match=True, schema_match=True,
                        hash_match=mismatch is None,
                        spark_rows=len(got), oracle_rows=len(want),
                        err=mismatch)
    if not mismatch:
        print(f"OK   {name}: {len(got)} rows")
# queries without oracle → rows-only
if json_out:
    with open(json_out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
print(f"\n{fails} failures / {len(oracle)} oracle-checked")
if not oracle:
    # an empty dump (e.g. a SPARK_GRAFT_ONLY list that selected
    # nothing) checked nothing — that is not a pass
    print("FAIL: the dump holds no oracle-checked entry")
    sys.exit(1)
sys.exit(1 if fails else 0)

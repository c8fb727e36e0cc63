#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query parquet
dumped by graft.Verify, run the oracle SQL in DuckDB over the same testdata
tables and compare (columns sorted by name, rows sorted, values hashed).
Every query listed in Verify's verify_errors.json counts as a failure.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
for name in sorted(os.listdir(out_dir)):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    got = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
    if name not in oracle:
        status = f"rows-only: {len(got)} rows"
        if len(got) == 0:
            fails += 1
            status += "  << EMPTY"
        print(f"{name:28s} {status}")
        continue
    exp = con.sql(oracle[name]).df()
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    ok_schema = list(got.columns) == list(exp.columns)
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True) if ok_schema else got
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True) if ok_schema else exp
    ok_rows = len(gs) == len(es)
    ok_vals = ok_schema and ok_rows and gs.astype(str).equals(es.astype(str))
    if not (ok_schema and ok_rows and ok_vals):
        fails += 1
        print(f"{name:28s} MISMATCH schema={ok_schema} rows={len(gs)}/{len(es)} vals={ok_vals}")
        if ok_schema and ok_rows:
            diff = gs.astype(str) != es.astype(str)
            idx = diff.any(axis=1)
            print("  spark:", gs[idx].head(3).to_dict("records"))
            print("  duck :", es[idx].head(3).to_dict("records"))
        else:
            print("  spark cols:", list(got.columns), "duck cols:", list(exp.columns))
    else:
        print(f"{name:28s} OK ({len(gs)} rows)")
# a query Verify failed to build or write leaves no output dir to visit;
# Verify records it in verify_errors.json instead
err_path = f"{out_dir}/verify_errors.json"
if os.path.exists(err_path):
    for name, msg in sorted(json.load(open(err_path)).items()):
        fails += 1
        print(f"{name:28s} FAILED in Verify: {msg}")
print("FAIL" if fails else "ALL OK")
sys.exit(1 if fails else 0)

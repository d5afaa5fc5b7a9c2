#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py [outDir] [sfDir]
Reads outDir/<query>/ parquet (written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle in DuckDB with each test table
registered as a view, and compares (schema-insensitively: columns sorted by
name, rows sorted, values stringified with float rounding diagnostics).
"""
import json
import sys

import duckdb

OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')").df()
        exp = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
        fails += 1
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
        fails += 1
        continue
    if len(got) == 0:
        # equal columns, both empty: a row-wise apply over an empty frame
        # returns a DataFrame rather than a Series, so there is nothing to sort
        print(f"OK   {name} (0 rows)")
        continue
    gs = got.astype(str).apply(lambda r: "|".join(r), axis=1).sort_values().reset_index(drop=True)
    es = exp.astype(str).apply(lambda r: "|".join(r), axis=1).sort_values().reset_index(drop=True)
    if not gs.equals(es):
        diff = (gs != es)
        n = int(diff.sum())
        print(f"FAIL {name}: {n}/{len(gs)} rows differ; first diffs:")
        shown = 0
        for i in range(len(gs)):
            if gs[i] != es[i]:
                print(f"  got: {gs[i]}\n  exp: {es[i]}")
                shown += 1
                if shown >= 3:
                    break
        fails += 1
    else:
        print(f"OK   {name} ({len(gs)} rows)")
print(f"\n{'ALL PASS' if fails == 0 else str(fails) + ' FAILURES'}")
sys.exit(1 if fails else 0)

#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query (dev tool only).
Each query dir present in both must hold the same rows as a multiset:
DuckDB EXCEPT ALL both ways, columns matched by name.
Usage: tools/diff_verify.py <parentOut> <changeOut>; exits 1 on any
difference, including a query dir present in only one output."""
import os, sys
import duckdb

a, b = sys.argv[1], sys.argv[2]
con = duckdb.connect()
dirs = [{n for n in os.listdir(r) if os.path.isdir(os.path.join(r, n))} for r in (a, b)]
bad = 0
for root, only in ((a, dirs[0] - dirs[1]), (b, dirs[1] - dirs[0])):
    for n in sorted(only):
        print(f"{n}: only in {root}")
        bad += 1
for n in sorted(dirs[0] & dirs[1]):
    src = [f"read_parquet('{r}/{n}/*.parquet')" for r in (a, b)]
    cols = [sorted(con.sql(f"SELECT * FROM {s} LIMIT 0").columns) for s in src]
    if cols[0] != cols[1]:
        print(f"{n}: differing columns {cols[0]} vs {cols[1]}")
        bad += 1
        continue
    sel = ", ".join(f'"{c}"' for c in cols[0])
    extra = [con.sql(f"SELECT count(*) FROM (SELECT {sel} FROM {x} "
                     f"EXCEPT ALL SELECT {sel} FROM {y})").fetchone()[0]
             for x, y in ((src[0], src[1]), (src[1], src[0]))]
    if extra == [0, 0]:
        print(f"{n}: identical")
    else:
        print(f"{n}: differing ({extra[0]} rows only in {a}, {extra[1]} only in {b})")
        bad += 1
print(f"{len(dirs[0] & dirs[1])} compared, {bad} differing")
sys.exit(1 if bad else 0)

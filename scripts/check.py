#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify, then
execute each oracle SQL in DuckDB over the same parquet tables and compare
row-for-row (columns sorted by name). Dev tool only — the shipped Scala
library has no Python dependency.

Usage: python3 scripts/check.py [sfdir] [outdir] [--no-run] [query ...]
"""
import json, subprocess, sys, glob, os

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
flags = set(a for a in sys.argv[3:] if a.startswith("--"))
only = [a for a in sys.argv[3:] if not a.startswith("--")]

if "--no-run" not in flags:
    r = subprocess.run(
        # --batch, not -client: a client boots a background sbt server
        # that outlives this script
        ["sbt", "--batch", f'runMain graft.Verify {sfdir} {outdir}'],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), capture_output=True, text=True)
    for line in r.stdout.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print("SBT RUN FAILED"); sys.stdout.write(r.stdout[-3000:]); sys.exit(1)

import duckdb
import pandas as pd
import numpy as np

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
names = only or sorted(oracle.keys())
fails = 0
for name in names:
    if name not in oracle:
        print(f"[skip] {name}: no oracle entry (rows-only or unknown name)")
        continue
    sql = oracle[name]
    path = f"{outdir}/{name}"
    if not os.path.isdir(path):
        print(f"[FAIL] {name}: no spark output dir"); fails += 1; continue
    try:
        got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
        want = con.sql(sql).df()
    except Exception as e:
        print(f"[FAIL] {name}: {e}"); fails += 1; continue
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        print(f"[FAIL] {name}: columns differ\n  spark={gc}\n  duck ={wc}"); fails += 1; continue
    got, want = got[gc], want[wc]
    if len(got) != len(want):
        print(f"[FAIL] {name}: rows {len(got)} vs {len(want)}"); fails += 1; continue
    bad = []
    for c in gc:
        a, b = got[c], want[c]
        if a.dtype != b.dtype:
            bad.append(f"{c}: dtype {a.dtype} vs {b.dtype}")
            continue
        if a.dtype == object:
            neq = (a.astype(str) != b.astype(str))
        else:
            neq = ~((a.isna() & b.isna()) | (a == b))
        n = int(neq.sum())
        if n:
            i = int(np.argmax(neq.values))
            bad.append(f"{c}: {n} mismatches, first at row {i}: spark={a.iloc[i]!r} duck={b.iloc[i]!r}")
    if bad:
        print(f"[FAIL] {name}:")
        for m in bad[:6]:
            print(f"    {m}")
        fails += 1
    else:
        print(f"[ ok ] {name}: {len(got)} rows x {len(gc)} cols")

for d in sorted(glob.glob(f"{outdir}/*/")):
    q = os.path.basename(d.rstrip("/"))
    if q not in oracle:
        n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
        print(f"[rows] {q}: {n} rows (no oracle)")
print("ALL GREEN" if fails == 0 else f"{fails} FAILURES")
sys.exit(1 if fails else 0)

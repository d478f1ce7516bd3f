#!/usr/bin/env python3
"""Replay of the round driver's DuckDB oracle compare.

Usage: python3 bench/compare.py <verify_outdir> <sf_dir>   # from the root of a checkout
Reads <outdir>/oracle_sql.json, creates one DuckDB view per parquet table in
<sf_dir>, runs each oracle SQL, and compares (sorted columns + rows, exact
values) against the Spark parquet under <outdir>/<name>/.
"""
import json
import sys

import duckdb
import pandas as pd

outdir, sfdir = sys.argv[1], sys.argv[2]
with open(f"{outdir}/oracle_sql.json") as f:
    oracle = json.load(f)

con = duckdb.connect()
for t in ["lineitem", "orders", "customer", "supplier", "nation", "region",
          "part", "documents", "embeddings", "events"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df.reset_index(drop=True)

fails = 0
for name in sorted(oracle):
    try:
        want = canon(con.execute(oracle[name]).df())
        got = canon(con.execute(
            f"SELECT * FROM '{outdir}/{name}/*.parquet'").df())
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            fails += 1
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            fails += 1
            continue
        eq = True
        for c in want.columns:
            a, b = got[c], want[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                same = ((a.isna() & b.isna()) | (a == b)).all()
            else:
                same = a.astype(object).where(pd.notna(a), None).equals(
                    b.astype(object).where(pd.notna(b), None))
            if not same:
                diffs = (a != b) & ~(a.isna() & b.isna())
                idx = diffs[diffs].index[:3].tolist()
                print(f"FAIL {name}: column {c} differs at rows {idx} "
                      f"got={[a.iloc[i] for i in idx]} want={[b.iloc[i] for i in idx]}")
                eq = False
                break
        if eq:
            print(f"ok   {name} ({len(got)} rows)")
        else:
            fails += 1
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        fails += 1
print(f"FAILS: {fails}")
sys.exit(1 if fails else 0)

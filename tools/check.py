#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: read Verify.scala's parquet
dumps, run each oracle SQL in DuckDB over the same testdata views, and compare
(columns sorted by name, rows sorted, values compared exactly).

Usage: python3 tools/check.py [verify_out_dir] [sf_dir]
(Run `sbt "runMain graft.Verify <sf_dir> <out_dir>"` first.)
Exits 1 on any mismatch, and when no result with an oracle was compared.
"""
import sys, os, json, math
import duckdb
import pyarrow.parquet as pq
import pandas as pd

out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="first").reset_index(drop=True)
    return df

def values_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b  # exact — the driver hashes, no tolerance
    return a == b

fail = 0
compared = 0
names = sorted(d for d in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, d)))
for name in names:
    spark_df = pq.read_table(os.path.join(out_dir, name)).to_pandas()
    if name not in oracles:
        print(f"  {name}: NO-ORACLE rows={len(spark_df)}"
              + (" !! EMPTY" if len(spark_df) == 0 else ""))
        continue
    compared += 1
    try:
        duck_df = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        print(f"  {name}: ORACLE-SQL-ERROR {e}")
        fail += 1
        continue
    a, b = canon(spark_df), canon(duck_df)
    problems = []
    if list(a.columns) != list(b.columns):
        problems.append(f"columns spark={list(a.columns)} duck={list(b.columns)}")
    elif len(a) != len(b):
        problems.append(f"rows spark={len(a)} duck={len(b)}")
    else:
        sa, sb = str(a.dtypes.to_dict()), str(b.dtypes.to_dict())
        if sa != sb:
            problems.append(f"dtypes spark={sa} duck={sb}")
        for c in a.columns:
            av, bv = a[c].tolist(), b[c].tolist()
            bad = [i for i in range(len(av)) if not values_equal(av[i], bv[i])]
            if bad:
                i = bad[0]
                problems.append(
                    f"col {c}: {len(bad)} mismatches, first@{i}: "
                    f"spark={av[i]!r} duck={bv[i]!r}")
    if problems:
        fail += 1
        print(f"  {name}: FAIL rows={len(a)}")
        for p in problems[:4]:
            print(f"      {p}")
    else:
        print(f"  {name}: OK rows={len(a)}")

print(f"\n{len(names) - fail}/{len(names)} queries pass")
if compared == 0:
    # A failed Verify leaves no result dirs: comparing nothing is a failure,
    # not a pass.
    print(f"no query result with an oracle in {out_dir}: nothing compared")
sys.exit(1 if fail or compared == 0 else 0)

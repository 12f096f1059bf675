#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify at a given SF dir, then executes each oracle SQL in
DuckDB over the same parquet tables and compares results:
columns sorted by name, rows sorted, values compared (exact for
ints/strings, tight tolerance report for floats so we can see whether
an exact hash would match).

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [query ...]
"""
import sys, os, json, math, subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
args = sys.argv[3:]
skip = "--skip-verify" in args
only = [a for a in args if not a.startswith("--")]

if not skip:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {SF} {OUT}'],
        cwd=ROOT, capture_output=True, text=True)
    sys.stdout.write(r.stdout[-3000:])
    sys.stderr.write(r.stderr[-3000:])
    if r.returncode != 0:
        sys.exit("verify failed")

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
fails = []
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    pdir = f"{OUT}/{name}"
    if not os.path.isdir(pdir):
        print(f"FAIL {name}: no spark output dir")
        fails.append(name)
        continue
    try:
        spark_df = pq.read_table(pdir).to_pandas()
    except Exception as e:
        print(f"FAIL {name}: cannot read spark output: {e}")
        fails.append(name)
        continue
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}")
        fails.append(name)
        continue
    sc = sorted(spark_df.columns)
    dc = sorted(duck_df.columns)
    if sc != dc:
        print(f"FAIL {name}: columns spark={sc} duck={dc}")
        fails.append(name)
        continue
    for colname in sc:
        a_t, b_t = str(spark_df[colname].dtype), str(duck_df[colname].dtype)
        if a_t != b_t:
            print(f"  WARN {name}.{colname}: dtype spark={a_t} duck={b_t}")
    a = spark_df[sc].sort_values(sc).reset_index(drop=True)
    b = duck_df[dc].sort_values(dc).reset_index(drop=True)
    if len(a) != len(b):
        print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
        fails.append(name)
        continue
    bad = None
    for col in sc:
        av, bv = a[col], b[col]
        for i in range(len(av)):
            x, y = av.iloc[i], bv.iloc[i]
            if x is None and y is None:
                continue
            try:
                xn = float(x); yn = float(y)
                if math.isnan(xn) and math.isnan(yn):
                    continue
                if xn != yn:
                    bad = (col, i, x, y, abs(xn - yn))
                    break
            except (TypeError, ValueError):
                if str(x) != str(y):
                    bad = (col, i, x, y, None)
                    break
        if bad:
            break
    if bad:
        col, i, x, y, d = bad
        print(f"FAIL {name}: col={col} row={i} spark={x!r} duck={y!r} diff={d}")
        fails.append(name)
    else:
        print(f"OK   {name}: {len(a)} rows, {len(sc)} cols exact")

print(f"\n{len(oracle) - len(fails)}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)

#!/usr/bin/env python3
"""Local self-check mirroring the driver's correctness gate:
run graft.Verify at a given SF dir, then execute each oracle SQL in
DuckDB over the same parquet tables and compare against the Spark
parquet dumps (schema + row-for-row values, columns sorted by name).

Driver-side tooling only — the shipped Scala library has no Python
dependency. Usage: python3 tools/check.py [sfdir] [outdir] [--no-verify]
"""
import json, math, os, subprocess, sys

import duckdb
import pandas as pd

# the checkout this script belongs to, so an exported copy checks itself
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--no-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        capture_output=True, text=True, cwd=REPO)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit(1)

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    return df

def cmp_val(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b  # exact: the engine promises bit-identical doubles
    return a == b

fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got = canon(pd.read_parquet(f"{OUT}/{name}"))
        want = canon(con.execute(sql).df())
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        fails += 1
        continue
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
        fails += 1
        continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} != {len(want)}")
        fails += 1
        continue
    bad = 0
    for col in got.columns:
        ga, wa = got[col].tolist(), want[col].tolist()
        for i, (a, b) in enumerate(zip(ga, wa)):
            a = None if (a is None or (isinstance(a, float) and pd.isna(a))) else a
            b = None if (b is None or (isinstance(b, float) and pd.isna(b))) else b
            if not cmp_val(a, b):
                if bad == 0:
                    print(f"FAIL {name}: col {col} row {i}: spark={a!r} duck={b!r}")
                bad += 1
    if bad:
        print(f"FAIL {name}: {bad} mismatched cells")
        fails += 1
    else:
        print(f"OK   {name}: {len(got)} rows")

print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)

#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Reads each Spark result parquet under OUTDIR/<name>/, runs the matching
oracle SQL from OUTDIR/oracle_sql.json against DuckDB views over the
same testdata parquet, sorts columns by name, and compares row count,
column names, and cell values (with float tolerance shown separately so
rounding-boundary flakes are visible).

The denominator is OUTDIR/declared.json, the query names graft.Verify
ran; a declared query with no oracle SQL is a NO-ORACLE failure, so an
oracle build that threw cannot shrink the set to a green subset.
"""
import sys, json, glob, math
import duckdb

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SFDIR}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
declared = json.load(open(f"{OUT}/declared.json"))

def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v

fails = []
for name in sorted(declared):
    if name not in oracle:
        print(f"{name:24s} NO-ORACLE"); fails.append(name); continue
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        print(f"{name:24s} NO-SPARK-OUTPUT"); fails.append(name); continue
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetch_df()
        duck_df = con.execute(oracle[name]).fetch_df()
    except Exception as e:
        print(f"{name:24s} ORACLE-ERROR: {e}"); fails.append(name); continue
    s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if s_cols != d_cols:
        print(f"{name:24s} COLS-MISMATCH spark={s_cols} duck={d_cols}")
        fails.append(name); continue
    if len(spark_df) != len(duck_df):
        print(f"{name:24s} ROWS-MISMATCH spark={len(spark_df)} duck={len(duck_df)}")
        fails.append(name); continue
    bad = None
    for c in s_cols:
        sv, dv = spark_df[c].tolist(), duck_df[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            an, bn = norm(a), norm(b)
            if an != bn:
                a_null = a is None or (isinstance(a, float) and math.isnan(a))
                b_null = b is None or (isinstance(b, float) and math.isnan(b))
                if a_null and b_null:
                    continue
                bad = (c, i, a, b)
                break
        if bad:
            break
    if bad:
        c, i, a, b = bad
        print(f"{name:24s} VALUE-MISMATCH col={c} row={i} spark={a!r} duck={b!r}")
        fails.append(name)
    else:
        print(f"{name:24s} OK ({len(spark_df)} rows)")

print(f"\n{len(declared) - len(fails)}/{len(declared)} OK; failures: {fails}")
sys.exit(1 if fails else 0)

#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only; the
engine itself is pure Scala/Spark). Reads Verify output dir, runs each
oracle SQL in DuckDB against the same sf tables, compares row count,
column names, and value hash (columns sorted by name, rows sorted).
An oracle key with no output dir fails as missing."""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def norm(df):
    # sort columns by name, then rows by all values; round floats
    import pandas as pd
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails, passes, skips = [], [], []
# an oracle key without an output dir is a query that threw (Verify
# writes keys only for the queries it attempted)
for name in sorted(oracle):
    if not os.path.isdir(os.path.join(outdir, name)):
        fails.append(f"{name}: FAIL (missing)")
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    got = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
    if name not in oracle:
        skips.append(f"{name} (rows={len(got)})")
        continue
    exp = con.sql(oracle[name]).df()
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        fails.append(f"{name}: columns {list(g.columns)} != {list(e.columns)}")
        continue
    if len(g) != len(e):
        fails.append(f"{name}: rows {len(g)} != {len(e)}")
        continue
    try:
        import pandas as pd
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        passes.append(name)
    except AssertionError as ex:
        fails.append(f"{name}: value mismatch: {str(ex)[:400]}")

print(f"PASS {len(passes)}: {' '.join(passes)}")
if skips:
    print(f"SKIP(no-oracle) {len(skips)}: {' '.join(skips)}")
if fails:
    print(f"FAIL {len(fails)}:")
    for f in fails:
        print("  " + f)
    sys.exit(1)
print("ALL GREEN")

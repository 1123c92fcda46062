"""Output checks of the benchmark, run after the timed region.

Queries: each output is compared with the query's DuckDB oracle SQL
(`SparkEntry.oracleSql`) over the same input tables, with the
normalisation of tools/check_oracle.py: columns sorted by name, float
columns rounded to 6 places, rows sorted, then an exact frame compare.
A query without an oracle must return rows, and its two executions must
hash the same.

Ingest: every committed table's read-back row count and
sum(l_extendedprice) must equal the source parquet's.
"""
import hashlib
import os

import duckdb

import datagen


def _connect(data_dir):
    con = duckdb.connect()
    for t in datagen.TABLES:
        if os.path.exists(os.path.join(data_dir, f"{t}.parquet")):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{datagen.parquet_glob(data_dir, t)}')")
    return con


def _norm(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _read(con, d):
    return con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()


def _digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def check_queries(data_dir, checks, oracle):
    """checks: [{"query", "seq", "dir"}]. Returns {seq: error or None}."""
    import pandas as pd
    con = _connect(data_dir)
    verdict = {}
    outputs = {}
    for c in checks:
        q, d = c["query"], c["dir"]
        try:
            got = _norm(_read(con, d))
            if q in oracle:
                exp = _norm(con.sql(oracle[q]).df())
                if list(got.columns) != list(exp.columns):
                    raise AssertionError(f"columns {list(got.columns)} != {list(exp.columns)}")
                if len(got) != len(exp):
                    raise AssertionError(f"rows {len(got)} != {len(exp)}")
                pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
            elif len(got) == 0:
                raise AssertionError("no rows")
            outputs.setdefault(q, []).append((c["seq"], _digest(got)))
            verdict[c["seq"]] = None
        except Exception as e:  # any failure is a failed check
            verdict[c["seq"]] = f"{q}: {type(e).__name__}: {str(e)[:300]}"
    for q, outs in outputs.items():
        if q not in oracle and len({h for _, h in outs}) > 1:
            for seq, _ in outs[1:]:
                verdict[seq] = f"{q}: output hash differs between executions"
    return verdict


def check_ingest(data_dir, readbacks):
    """readbacks: [{"seq", "rows", "sum"}]. Returns {seq: error or None}."""
    con = _connect(data_dir)
    n, s = con.sql("SELECT COUNT(*), SUM(l_extendedprice) FROM lineitem").fetchone()
    verdict = {}
    for r in readbacks:
        err = None
        if r["rows"] != n:
            err = f"ingest: {r['rows']} rows committed, source has {n}"
        elif r["sum"] is None or abs(r["sum"] - s) > 1e-9 * max(1.0, abs(s)):
            err = f"ingest: sum(l_extendedprice) {r['sum']} != source {s}"
        verdict[r["seq"]] = err
    return verdict

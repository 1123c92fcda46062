"""Seeded input tables for the benchmark, written with DuckDB before the
JVM starts, so the program under test receives only finished files.

Schemas and value domains follow the TPC-H-ish fixtures (TESTDATA.md,
FIXTURES.md) and the hash-derived construction of graft.ScaleData; the
seed is folded into every hash. The same seed gives the same rows in the
same files; another seed gives another draw of the same distribution.
Row counts are the sf0.1 fixture counts times `scale`.

Layout: `<dir>/<table>.parquet` is one file, as in the fixtures, except
lineitem, which is a directory of LINEITEM_FILES files split on
l_orderkey. That makes a lineitem scan split the same way at every seed,
and lets the ingest path open up to that many JDBC connections.
"""
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")
LINEITEM_FILES = 8

VOCAB = ["spark", "line", "column", "order", "small", "sort", "fast", "value",
         "scan", "batch", "part", "query", "agg", "table", "hash", "key", "group",
         "filter", "stream", "slow", "customer", "vector", "join", "shuffle",
         "page", "row", "index", "cache", "merge", "split", "read", "write",
         "plan", "stage", "task", "block", "file", "disk", "node", "core", "a",
         "the", "big", "data", "window"]


def _lit_list(values):
    return "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"


def _pick(values, key):
    return f"{_lit_list(values)}[(({key}) % {len(values)})::BIGINT + 1]"


def write(out_dir, seed, scale, tables=TABLES):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def h(*parts):
        return "hash(" + ", ".join(list(parts) + [str(int(seed))]) + ")"

    def n(base):
        return max(1, round(base * scale))

    def copy(select, path):
        con.execute(f"COPY ({select}) TO '{path}' (FORMAT parquet)")

    n_cust, n_supp, n_part, n_orders = n(15000), n(1000), n(20000), n(150000)
    order_epoch = "TIMESTAMP '1995-01-01 00:00:00'"
    q = {}
    q["region"] = f"""
        SELECT i::INTEGER AS r_regionkey,
               {_lit_list(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}[i + 1] AS r_name
        FROM range(5) t(i) ORDER BY i"""
    q["nation"] = """
        SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
               (i % 5)::INTEGER AS n_regionkey
        FROM range(25) t(i) ORDER BY i"""
    q["customer"] = f"""
        SELECT k AS c_custkey, printf('Customer#%09d', k) AS c_name,
               ({h('k', "'cn'")} % 25)::INTEGER AS c_nationkey,
               round(({h('k', "'cb'")} % 1000000)::DOUBLE / 100.0 - 1000.0, 2) AS c_acctbal,
               {_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'],
                      h('k', "'cs'"))} AS c_mktsegment
        FROM range({n_cust}) t(k) ORDER BY k"""
    q["supplier"] = f"""
        SELECT k AS s_suppkey, printf('Supplier#%09d', k) AS s_name,
               ({h('k', "'sn'")} % 25)::INTEGER AS s_nationkey,
               round(({h('k', "'sb'")} % 1000000)::DOUBLE / 100.0 - 1000.0, 2) AS s_acctbal
        FROM range({n_supp}) t(k) ORDER BY k"""
    q["part"] = f"""
        SELECT k AS p_partkey,
               {_pick(['large', 'hot', 'blue', 'small', 'shiny', 'red', 'green', 'dim'],
                      h('k', "'pa'"))} || ' ' ||
               {_pick(['ring', 'bolt', 'case', 'plate', 'tube', 'cap', 'rod', 'gear'],
                      h('k', "'pn'"))} AS p_name,
               'Brand#' || ({h('k', "'pb'")} % 25 + 1) AS p_brand,
               {_pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'],
                      h('k', "'pt'"))} AS p_type,
               ({h('k', "'ps'")} % 50 + 1)::INTEGER AS p_size,
               round(900.0 + (k % 100000)::DOUBLE / 10.0, 2) AS p_retailprice
        FROM range({n_part}) t(k) ORDER BY k"""
    # order dates span 1995-01-01 .. 2001-08-01 at midnight; ship dates
    # are drawn independently over the same span plus a 95-day tail, as
    # in the fixtures, whose order and ship dates are uncorrelated
    q["orders"] = f"""
        SELECT k AS o_orderkey,
               ({h('k', "'oc'")} % {n_cust})::BIGINT AS o_custkey,
               {_pick(['O', 'P', 'F'], h('k', "'os'"))} AS o_orderstatus,
               round(1000.0 + ({h('k', "'op'")} % 49900000)::DOUBLE / 100.0, 2) AS o_totalprice,
               {order_epoch} + to_days(({h('k', "'od'")} % 2404)::INTEGER) AS o_orderdate,
               {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'],
                      h('k', "'opr'"))} AS o_orderpriority
        FROM range({n_orders}) t(k) ORDER BY k"""

    def lh(tag):
        return h("o", "ln", f"'{tag}'")

    lineitem = f"""
        SELECT o AS l_orderkey,
               ({lh('lp')} % {n_part})::BIGINT AS l_partkey,
               ({lh('ls')} % {n_supp})::BIGINT AS l_suppkey,
               ln::INTEGER AS l_linenumber,
               ({lh('lq')} % 50 + 1)::DOUBLE AS l_quantity,
               round(900.0 + ({lh('le')} % 10400000)::DOUBLE / 100.0, 2) AS l_extendedprice,
               ({lh('ld')} % 11)::DOUBLE / 100.0 AS l_discount,
               ({lh('lt')} % 9)::DOUBLE / 100.0 AS l_tax,
               {_pick(['A', 'N', 'R'], lh('lr'))} AS l_returnflag,
               {_pick(['F', 'O'], lh('ll'))} AS l_linestatus,
               {order_epoch} + to_days(({lh('lsd')} % (2404 + 95))::INTEGER) AS l_shipdate
        FROM (SELECT o, unnest(range(1, ({h('o', "'ln'")} % 7 + 2)::BIGINT)) AS ln
              FROM range({n_orders}) t(o))"""
    q["documents"] = f"""
        SELECT doc_id, text,
               {_pick(['en', 'en', 'en', 'de', 'fr', 'es', 'zh'], h('doc_id', "'lang'"))} AS lang,
               'src' || (doc_id % 20) AS source,
               length(text)::BIGINT AS n_chars
        FROM (SELECT doc_id,
                     array_to_string(list_transform(
                         range(({h('doc_id', "'len'")} % 70 + 10)::BIGINT),
                         i -> {_pick(VOCAB, h('doc_id', 'i', "'tok'"))}), ' ') AS text
              FROM range({n(5000)}) t(doc_id))
        ORDER BY doc_id"""
    q["embeddings"] = f"""
        SELECT vec_id,
               list_transform(range(64),
                   d -> (({h('vec_id', 'd', "'emb'")} % 20001)::DOUBLE / 10000.0 - 1.0)::FLOAT)
                   AS embedding,
               ({h('vec_id', "'lab'")} % 10)::INTEGER AS label
        FROM range({n(2000)}) t(vec_id) ORDER BY vec_id"""

    for t in tables:
        path = os.path.join(out_dir, f"{t}.parquet")
        if t == "lineitem":
            os.makedirs(path, exist_ok=True)
            for i in range(LINEITEM_FILES):
                copy(f"SELECT * FROM ({lineitem}) WHERE l_orderkey % {LINEITEM_FILES} = {i} "
                     f"ORDER BY l_orderkey, l_linenumber",
                     os.path.join(path, f"part-{i:05d}.parquet"))
        else:
            copy(q[t], path)
    con.close()


def parquet_glob(data_dir, table):
    """DuckDB read pattern for one table written by write()."""
    path = os.path.join(data_dir, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path

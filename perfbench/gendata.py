#!/usr/bin/env python3
"""Deterministic batch input tables for the benchmark.

Writes the ten parquet tables the query registry reads (`region nation
customer supplier part orders lineitem events documents embeddings`) with the
same schemas, key ranges and value shapes as the project's reference test
data, at a given scale factor. Every value is a pure function of the row
number and a salt (DuckDB `hash`), so the same scale gives byte-identical
inputs on every run, and the expected query fingerprints in `expected.json`
stay valid. Each file is a single row group, like the reference data.

Usage: python3 perfbench/gendata.py <out_dir> <scale_factor>
"""
import os
import sys

import duckdb

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "blue hot large old cold red small shiny".split()
NOUN = "ring bolt plate gear anvil gizmo rod widget".split()


def sql_list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    # u(i, salt): uniform [0, 1) as a pure function of (row, salt)
    con.execute("CREATE MACRO u(i, salt) AS (hash(i, salt) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO pick(xs, i, salt) AS xs[1 + CAST(floor(u(i, salt) * len(xs)) AS BIGINT)]")
    n = {k: max(1, int(v * sf)) for k, v in dict(
        customer=150000, supplier=10000, part=200000, orders=1500000,
        lineitem=6000000, events=1000000, documents=50000).items()}
    n["embeddings"] = max(500, int(20000 * sf))
    users = max(10, int(15000 * sf))
    tables = {
        "region": """SELECT CAST(i AS INTEGER) r_regionkey,
            ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name,
            CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
            CAST(floor(u(i, 1) * 25) AS INTEGER) c_nationkey,
            round(-999.99 + floor(u(i, 2) * 1099999) / 100, 2) c_acctbal,
            pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], i, 3) c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
            CAST(floor(u(i, 4) * 25) AS INTEGER) s_nationkey,
            round(-999.99 + floor(u(i, 5) * 1099999) / 100, 2) s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            pick({sql_list(ADJ)}, i, 6) || ' ' || pick({sql_list(NOUN)}, i, 7) p_name,
            'Brand#' || (1 + CAST(floor(u(i, 8) * 25) AS BIGINT)) p_brand,
            pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], i, 9) p_type,
            CAST(1 + floor(u(i, 10) * 50) AS INTEGER) p_size,
            round(900 + (i % 1000) / 10.0, 2) p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey, CAST(floor(u(i, 11) * {n['customer']}) AS BIGINT) o_custkey,
            pick(['F', 'O', 'P'], i, 12) o_orderstatus,
            round(1000 + floor(u(i, 13) * 49900000) / 100, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(floor(u(i, 14) * 2404) AS INTEGER)) o_orderdate,
            pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], i, 15) o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT CAST(floor(u(i, 16) * {n['orders']}) AS BIGINT) l_orderkey,
            CAST(floor(u(i, 17) * {n['part']}) AS BIGINT) l_partkey,
            CAST(floor(u(i, 18) * {n['supplier']}) AS BIGINT) l_suppkey,
            CAST(1 + floor(u(i, 19) * 7) AS INTEGER) l_linenumber,
            CAST(1 + floor(u(i, 20) * 50) AS DOUBLE) l_quantity,
            round(900 + floor(u(i, 21) * 10410000) / 100, 2) l_extendedprice,
            floor(u(i, 22) * 11) / 100 l_discount,
            floor(u(i, 23) * 9) / 100 l_tax,
            pick(['A', 'N', 'R'], i, 24) l_returnflag,
            pick(['F', 'O'], i, 25) l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST(floor(u(i, 26) * 2498) AS INTEGER)) l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        # ts rises with event_id over 30 days, as in a replayed event log
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor((i + u(i, 27)) * 2592000000000 / {n['events']}) AS BIGINT)) ts,
            CAST(floor(u(i, 28) * {users}) AS BIGINT) user_id,
            pick(['click', 'error', 'purchase', 'signup', 'view'], i, 29) event_type,
            round(-50 * ln(1 - u(i, 30)), 2) "value",
            '{{"k": ' || CAST(floor(u(i, 31) * 100) AS BIGINT) || '}}' props
            FROM range({n['events']}) t(i)""",
    }
    for name, sql in tables.items():
        write(con, out, name, sql + " ORDER BY 1")
    # documents: 10-95 random vocabulary words; ~5% repeat an earlier
    # document's text with a trailing ' dup' token (the near-duplicate mass)
    con.execute(f"""CREATE TABLE base AS SELECT i doc_id,
        array_to_string(list_transform(range(10 + CAST(floor(u(i, 32) * 86) AS BIGINT)),
            j -> {sql_list(VOCAB)}[1 + CAST(hash(i, j, 33) % {len(VOCAB)} AS BIGINT)]), ' ') AS "text"
        FROM range({n['documents']}) t(i)""")
    write(con, out, "documents", f"""SELECT b.doc_id,
        CASE WHEN b.doc_id > 0 AND u(b.doc_id, 34) < 0.05 THEN s.text || ' dup' ELSE b.text END AS "text",
        pick(['de', 'en', 'en', 'en', 'es', 'fr', 'zh'], b.doc_id, 35) lang,
        'src' || (b.doc_id % 20) source, CAST(0 AS BIGINT) n_chars
        FROM base b JOIN base s ON s.doc_id = CAST(floor(u(b.doc_id, 36) * b.doc_id) AS BIGINT)
        ORDER BY 1""", fix_chars=True)
    # embeddings: unit vectors around one centroid per label
    write(con, out, "embeddings", f"""WITH raw AS (SELECT i vec_id,
            CAST(floor(u(i, 37) * 10) AS INTEGER) AS "label" FROM range({n['embeddings']}) t(i)),
        v AS (SELECT vec_id, "label", list_transform(range(64),
            d -> (u("label", d + 1000) - 0.5) + 0.6 * (u(vec_id, d + 2000) - 0.5)) e FROM raw)
        SELECT vec_id, CAST(list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y))))
            AS FLOAT[]) AS embedding, "label" FROM v ORDER BY 1""")


def write(con, out, name, sql, fix_chars=False):
    if fix_chars:
        sql = f"SELECT * REPLACE (CAST(length(text) AS BIGINT) AS n_chars) FROM ({sql})"
    path = os.path.join(out, name + ".parquet")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 100000000)")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))

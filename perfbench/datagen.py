"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (region, nation, supplier,
customer, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, arrow types and value domains
of the fixture set described in FIXTURES.md. Every value is a function of
(seed, table, row, column) through DuckDB's `hash`, so the same seed and
scale give identical tables.

    python3 perfbench/datagen.py <out_dir> <seed> <sf>
"""
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}

WORDS = ("row the query stream key agg scan slow table part a merge window "
         "order column join vector value hash batch sort data big filter dup "
         "fast spark line small customer group").split()
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]


def sizes(sf):
    """Row counts per table at scale `sf` (the fixture ratios)."""
    return {
        "supplier": max(10, int(10_000 * sf)),
        "customer": max(150, int(150_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def table_sql(seed, sf):
    """One SELECT per table. `u(tag, col)` is a uniform integer hash of
    (seed, table tag, row, column tag); every column draws from it."""
    n = sizes(sf)

    def u(tag, col, row="i"):
        return f"hash({seed}, '{tag}', {row}, '{col}')"

    def pick(tag, col, items):
        arr = "[" + ", ".join(f"'{x}'" for x in items) + "]"
        return f"{arr}[1 + ({u(tag, col)} % {len(items)})::INT]"

    def money(tag, col, lo, hi):
        span = int(round((hi - lo) * 100)) + 1
        return (f"({int(round(lo * 100))} + ({u(tag, col)} % {span})::BIGINT)"
                " / 100.0")

    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    kinds = ["click", "view", "purchase", "signup", "error"]
    return {
        "region": """SELECT i::INT r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INT n_nationkey, 'NATION_' || i n_name,
            (i % 5)::INT n_regionkey FROM range(25) t(i)""",
        "supplier": f"""SELECT i s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') s_name,
            ({u('s', 'n')} % 25)::INT s_nationkey,
            {money('s', 'b', -999.99, 9999.99)} s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "customer": f"""SELECT i c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') c_name,
            ({u('c', 'n')} % 25)::INT c_nationkey,
            {money('c', 'b', -999.99, 9999.99)} c_acctbal,
            {pick('c', 'm', segments)} c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            {pick('p', 'a', ADJ)} || ' ' || {pick('p', 'o', NOUN)} p_name,
            'Brand#' || (1 + {u('p', 'b')} % 25) p_brand,
            {pick('p', 't', types)} p_type,
            (1 + {u('p', 's')} % 50)::INT p_size,
            (9000 + i % 1000) / 10.0 p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey,
            ({u('o', 'c')} % {n['customer']})::BIGINT o_custkey,
            {pick('o', 's', ['F', 'O', 'P'])} o_orderstatus,
            {money('o', 'p', 1000.0, 499999.99)} o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(({u('o', 'd')} % 2404)::INT)
              o_orderdate,
            {pick('o', 'r', prios)} o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT ({u('l', 'o')} % {n['orders']})::BIGINT l_orderkey,
            ({u('l', 'p')} % {n['part']})::BIGINT l_partkey,
            ({u('l', 's')} % {n['supplier']})::BIGINT l_suppkey,
            (1 + {u('l', 'n')} % 7)::INT l_linenumber,
            (1 + {u('l', 'q')} % 50)::DOUBLE l_quantity,
            {money('l', 'e', 901.0, 104999.99)} l_extendedprice,
            ({u('l', 'd')} % 11) / 100.0 l_discount,
            ({u('l', 't')} % 9) / 100.0 l_tax,
            {pick('l', 'f', ['A', 'N', 'R'])} l_returnflag,
            {pick('l', 'x', ['F', 'O'])} l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(({u('l', 'h')} % 2498)::INT)
              l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              (i * 2592000000000 // {n['events']})
              + ({u('e', 'j')} % 200000000)::BIGINT) ts,
            ({u('e', 'u')} % {n['users']})::BIGINT user_id,
            {pick('e', 't', kinds)} event_type,
            {money('e', 'v', 0.01, 490.02)} AS "value",
            '{{"k": ' || ({u('e', 'k')} % 100) || '}}' props
            FROM range({n['events']}) t(i)""",
        # 1 document in 600 repeats an earlier document's text exactly, so
        # the exact-dedup queries see duplicates at the larger scales
        "documents": f"""WITH d AS (
              SELECT i, CASE WHEN i > 0 AND {u('d', 'r')} % 600 = 0
                THEN ({u('d', 's')} % i)::BIGINT ELSE i END src
              FROM range({n['documents']}) t(i)),
            w AS (SELECT i, list_aggregate(list_transform(
                range(9 + ({u('d', 'w', 'src')} % 82)::INT),
                k -> {words}[1 + (hash({seed}, 'dw', src, k)
                  % {len(WORDS)})::INT]), 'string_agg', ' ') txt FROM d)
            SELECT i doc_id, txt AS "text",
              CASE WHEN {u('d', 'l')} % 100 < 43 THEN 'en'
                ELSE ['de', 'es', 'fr', 'zh'][1 + ({u('d', 'm')} % 4)::INT]
                END AS lang,
              'src' || ({u('d', 'o')} % 20) AS source,
              length(txt)::BIGINT n_chars
            FROM w""",
        # ten label centroids plus per-vector noise, so nearest-neighbour
        # queries see clustered vectors
        "embeddings": f"""SELECT i vec_id,
            list_transform(range(64), k -> (
              ((hash({seed}, 'c', i % 10, k) % 2001)::DOUBLE - 1000) / 10000.0
              + (((hash({seed}, 'v', i, k) % 1001)
                + (hash({seed}, 'w', i, k) % 1001)
                + (hash({seed}, 'x', i, k) % 1001))::DOUBLE - 1500)
                / 15000.0)::FLOAT) AS embedding,
            (i % 10)::INT AS label
            FROM range({n['embeddings']}) t(i)""",
    }


def generate(out_dir, seed, sf, tables=None, tmp=None):
    """Write the named tables (default: all) under `out_dir`; returns the
    written paths. DuckDB spills, if at all, to `tmp` (default: out_dir)."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp or out_dir}'")
    paths = []
    for name, sql in table_sql(int(seed), float(sf)).items():
        if tables is not None and name not in tables:
            continue
        arrow = con.execute(f"SELECT * FROM ({sql}) ORDER BY ALL").arrow()
        arrow = arrow.cast(pa.schema(SCHEMAS[name]))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(arrow, path)
        paths.append(path)
    con.close()
    return paths


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))

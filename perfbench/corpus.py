"""Seeded corpus for the corpus_dedup workload, written with DuckDB.

The six tables hold the columns the nine corpus queries read, with the
shapes of the engine's reference test data: documents of 8-90 words from a
30-word vocabulary, 5% of them a copy of an earlier document plus " dup";
1,000 unit embeddings of 64 Gaussian components, 3% of them an earlier
vector plus 8% noise; events over 150 users; 1,500 customers; 15,000
orders; 60,000 line items. Every value is a hash of (row, seed), so the same
seed gives the same files.
"""
import os

import duckdb

VOCAB = ["row", "the", "query", "stream", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector", "fast", "spark", "line",
         "small", "customer", "group", "value", "hash", "batch", "sort", "data", "big", "filter"]
DOCUMENTS, EMBEDDINGS, USERS, CUSTOMERS, EVENTS, ORDERS, LINEITEMS = (
    2000, 1000, 150, 1500, 10000, 15000, 60000)


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    s = int(seed)
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"""CREATE TABLE base AS SELECT i AS doc_id,
        array_to_string(list_transform(range(8 + (hash(i, {s}, 1) % 83)::BIGINT),
          j -> {vocab}[1 + (hash(i, j, {s}, 2) % {len(VOCAB)})::BIGINT]), ' ') AS text
        FROM range({DOCUMENTS}) t(i)""")
    con.execute(f"""CREATE TABLE documents AS
        SELECT b.doc_id, coalesce(x.text || ' dup', b.text) AS text
        FROM base b LEFT JOIN base x
          ON b.doc_id > 10 AND hash(b.doc_id, {s}, 3) % 20 = 0
         AND x.doc_id = hash(b.doc_id, {s}, 4) % b.doc_id
        ORDER BY b.doc_id""")
    # Box-Muller Gaussian components from two hashes per (row, component)
    con.execute(f"""CREATE TABLE raw AS SELECT i AS vec_id,
        list_transform(range(64), j ->
          sqrt(-2 * ln(((hash(i, j, {s}, 5) % 1000000) + 1) / 1000001.0))
          * cos(2 * pi() * ((hash(i, j, {s}, 6) % 1000000) / 1000000.0))) AS v
        FROM range({EMBEDDINGS}) t(i)""")
    con.execute(f"""CREATE TABLE mixed AS
        SELECT r.vec_id, CASE WHEN x.v IS NULL THEN r.v
          ELSE list_transform(range(64), k -> x.v[k + 1] + 0.08 * r.v[k + 1]) END AS v
        FROM raw r LEFT JOIN raw x
          ON r.vec_id > 10 AND hash(r.vec_id, {s}, 7) % 33 = 0
         AND x.vec_id = hash(r.vec_id, {s}, 8) % r.vec_id""")
    con.execute("""CREATE TABLE embeddings AS
        SELECT vec_id, list_transform(v, e -> (e / sqrt(list_dot_product(v, v)))::FLOAT) AS embedding,
               (vec_id % 10)::INTEGER AS label
        FROM mixed ORDER BY vec_id""")
    con.execute(f"""CREATE TABLE events AS SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_seconds((hash(i, {s}, 11) % 2592000)::BIGINT) AS ts,
        (hash(i, {s}, 12) % {USERS})::BIGINT AS user_id,
        ['click', 'signup', 'error', 'view', 'purchase'][1 + (hash(i, {s}, 13) % 5)::BIGINT] AS event_type,
        round((hash(i, {s}, 14) % 49000) / 100.0 + 0.01, 2)::DOUBLE AS value
        FROM range({EVENTS}) t(i)""")
    con.execute(f"""CREATE TABLE customer AS SELECT i AS c_custkey,
        printf('Customer#%09d', i) AS c_name FROM range({CUSTOMERS}) t(i)""")
    con.execute(f"""CREATE TABLE orders AS SELECT i AS o_orderkey,
        (hash(i, {s}, 21) % {CUSTOMERS})::BIGINT AS o_custkey,
        ['F', 'O', 'P'][1 + (hash(i, {s}, 22) % 3)::BIGINT] AS o_orderstatus,
        round(1000 + (hash(i, {s}, 23) % 49900000) / 100.0, 2)::DOUBLE AS o_totalprice
        FROM range({ORDERS}) t(i)""")
    con.execute(f"""CREATE TABLE lineitem AS SELECT i // 4 AS l_orderkey,
        (1 + hash(i, {s}, 31) % 50)::DOUBLE AS l_quantity,
        round((1 + hash(i, {s}, 31) % 50) * (900 + (hash(i, {s}, 32) % 120000) / 100.0), 2)::DOUBLE
          AS l_extendedprice
        FROM range({LINEITEMS}) t(i)""")
    for t in ["documents", "embeddings", "events", "customer", "orders", "lineitem"]:
        con.execute(f"COPY {t} TO '{os.path.join(out_dir, t + '.parquet')}' (FORMAT PARQUET)")
    con.close()

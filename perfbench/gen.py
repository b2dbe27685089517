"""Seeded input generator for the engine benchmark.

`base(out, seed)` writes the ten tables in the sf0.1 shape the program's
loaders expect (schemas, row counts and value domains as in FIXTURES.md),
drawn from a numpy generator seeded with `seed`. `multicopy(src, out, copies,
seed)` then builds the `onepass_ml` input from a base with DuckDB: every fact
table the one-pass keys read is copied `copies` times with its keys remapped
per copy and its measures jittered inside the base table's domains, so no two
copies are equal and parquet cannot collapse them.

Usage: python3 perfbench/gen.py <out_dir> <seed> [copies]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "large hot blue old cold red small green".split()
NOUN = "ring bolt plate gear widget rod anvil nut".split()
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
US = 1_000_000


def _ts(lo: str, hi: str, n: int, rng, day: bool) -> pa.Array:
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    if day:
        days = rng.integers(0, (b - a) // (86400 * US) + 1, n)
        v = a + days * 86400 * US
    else:
        v = np.sort(rng.integers(a, b, n))
    return pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n: int):
    texts = []
    for i in range(n):
        # About one document in twenty is a near-duplicate of an earlier
        # one: a copy with one word replaced by "dup" (the dedup keys'
        # planted clusters).
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return texts


def base(out: str, seed: int) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * SCALE), int(10000 * SCALE), int(200000 * SCALE)
    n_ord, n_li, n_ev = int(1500000 * SCALE), int(6000000 * SCALE), int(1000000 * SCALE)
    n_doc, n_emb = 5000, 2000
    i32, i64 = pa.int32(), pa.int64()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": _pick(rng, [f"Brand#{j}" for j in range(1, 26)], n_part),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", n_ord, rng, day=True),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", "2001-11-04", n_li, rng, day=True)})
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", "2024-01-31", n_ev, rng, day=False),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(50, n_ev), 560.21), 2),
        "props": _pick(rng, [f'{{"k": {j}}}' for j in range(100)], n_ev)})
    texts = _documents(rng, n_doc)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": _pick(rng, [f"src{j}" for j in range(20)], n_doc),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    x = rng.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# Per-copy remap and jitter. `c` is the copy number, `h` a seeded hash of
# the row that picks a jitter inside the base column's domain.
MULTICOPY = {
    "lineitem": """
        l_orderkey + c * {n_orders} AS l_orderkey, l_partkey, l_suppkey,
        l_linenumber,
        CASE WHEN c = 0 THEN l_quantity ELSE CAST(1 + (h % 50) AS DOUBLE) END AS l_quantity,
        CASE WHEN c = 0 THEN l_extendedprice
             ELSE round(900 + (h % 10410000) / 100.0, 2) END AS l_extendedprice,
        CASE WHEN c = 0 THEN l_discount ELSE round((h // 7 % 11) / 100.0, 2) END AS l_discount,
        CASE WHEN c = 0 THEN l_tax ELSE round((h // 11 % 9) / 100.0, 2) END AS l_tax,
        l_returnflag, l_linestatus, l_shipdate""",
    "orders": """
        o_orderkey + c * {n_orders} AS o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN c = 0 THEN o_totalprice
             ELSE round(1000 + (h % 49900000) / 100.0, 2) END AS o_totalprice,
        o_orderdate, o_orderpriority""",
    "documents": """
        doc_id + c * {n_docs} AS doc_id,
        CASE WHEN c = 0 THEN text ELSE text || ' ' || {vocab}[1 + (h % {n_vocab})] END AS text,
        lang, source,
        CASE WHEN c = 0 THEN n_chars ELSE n_chars + 1 + length({vocab}[1 + (h % {n_vocab})]) END AS n_chars""",
    "embeddings": """
        vec_id + c * {n_embs} AS vec_id,
        CASE WHEN c = 0 THEN embedding
             ELSE list_transform(embedding, (x, i) -> CAST(x * (1 + (CAST(hash(h, i) % 201 AS INTEGER) - 100) / 10000.0) AS FLOAT)) END AS embedding,
        label""",
}


def multicopy(src: str, out: str, copies: int, seed: int) -> None:
    import duckdb
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone='UTC'")
    n = {t: con.execute(f"SELECT count(*) FROM '{src}/{t}.parquet'").fetchone()[0]
         for t in ("orders", "documents", "embeddings")}
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    for t in ("region", "nation", "customer", "supplier", "part", "events"):
        os.link(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
    for t, cols in MULTICOPY.items():
        sel = cols.format(n_orders=n["orders"], n_docs=n["documents"],
                          n_embs=n["embeddings"], vocab=vocab, n_vocab=len(VOCAB))
        con.execute(f"""
            COPY (
              SELECT {sel} FROM (
                SELECT b.*, c, CAST(hash(b.rid, c, {seed}) >> 1 AS BIGINT) AS h
                FROM (SELECT * EXCLUDE (file_row_number), file_row_number AS rid
                      FROM read_parquet('{src}/{t}.parquet', file_row_number = true)) b,
                     range({copies}) r(c))
              ORDER BY c, rid
            ) TO '{out}/{t}.parquet' (FORMAT parquet)""")
    con.close()


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    if len(sys.argv) > 3:
        base(out + "/base", seed)
        multicopy(out + "/base", out, int(sys.argv[3]), seed)
    else:
        base(out, seed)

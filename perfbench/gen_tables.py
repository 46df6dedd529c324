"""Seeded generator for the star-schema tables the SparkEntry operations read.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names, types
and value domains the operations and their DuckDB oracles expect. Row counts
scale with `sf` the way the TPC-H-style tables do (lineitem = 6M x sf); the
same (seed, sf) always gives byte-identical files.

`held_out` splits a generated documents table into held-out shards (for
streamed ingest) and a takedown list.

Usage: python3 perfbench/gen_tables.py OUT_DIR SEED [SF]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    """Word-salad documents over a small vocabulary; every 20th is a
    near-duplicate of a random earlier document (copied, optionally with a
    trailing marker word), so the dedup and similarity gates find real pairs
    and their number does not vary with the seed."""
    texts = []
    for i in range(n):
        if i > 10 and i % 20 == 0:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    lab = rng.integers(0, labels, n)
    v = centers[lab] + rng.normal(0, 1.2, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    vecs = pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": vecs,
                     "label": lab.astype(np.int32)})


def generate(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    i32, i64 = np.int32, np.int64
    tables = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=i32),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": np.arange(25, dtype=i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": (np.arange(25) % 5).astype(i32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PTYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * DAY_US)}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=i64),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev).astype(i64),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def held_out(tables_dir, out_dir, seed, n_docs=40, n_shards=2, n_takedown=10):
    """Write OUT_DIR/shards/shard-K.parquet: `n_docs` documents of the table,
    half of them planted near-duplicates (so the streamed ingest finds
    pairs), in `n_shards` files; and OUT_DIR/takedown/takedown.parquet:
    `n_takedown` doc ids to take down, half of them planted
    near-duplicates (so the takedown splits clusters)."""
    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet"))
    ids = docs.column("doc_id").to_numpy()
    rng = np.random.default_rng([seed, 1])
    planted = ids[(ids > 10) & (ids % 20 == 0)]
    other = np.setdiff1d(ids, planted)
    held = np.sort(np.concatenate([rng.choice(planted, n_docs // 2, replace=False),
                                   rng.choice(other, n_docs - n_docs // 2, replace=False)]))
    os.makedirs(os.path.join(out_dir, "shards"), exist_ok=True)
    for k, part in enumerate(np.array_split(held, n_shards)):
        mask = np.isin(ids, part)
        pq.write_table(docs.filter(pa.array(mask)), os.path.join(out_dir, "shards", f"shard-{k}.parquet"))
    gone = np.sort(np.concatenate([rng.choice(planted, n_takedown // 2, replace=False),
                                   rng.choice(other, n_takedown - n_takedown // 2, replace=False)]))
    os.makedirs(os.path.join(out_dir, "takedown"), exist_ok=True)
    pq.write_table(pa.table({"doc_id": gone.astype(np.int64)}),
                   os.path.join(out_dir, "takedown", "takedown.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)

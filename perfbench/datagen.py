"""Seeded generator for the benchmark corpus.

Writes the ten parquet tables the engine's registry queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), plus `stream_order` (which events the streaming
workload sends, in order) with the schemas and value distributions of the
engine's reference corpus (TPC-H-shaped star schema plus an events
stream, a text corpus with planted near-duplicates and unit-norm
embeddings). The same (seed, scale) always gives byte-identical tables.

Usage: python3 perfbench/datagen.py <out_dir> <seed> <scale> [table ...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings", "stream_order"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first_day, n_days, n):
    days = rng.integers(0, n_days, n)
    return pa.array(EPOCH_1995 + (first_day + days) * DAY_US, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def region(rng, sf):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())})


def nation(rng, sf):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng, sf):
    n = int(150_000 * sf)
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})


def supplier(rng, sf):
    n = int(10_000 * sf)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def part(rng, sf):
    n = int(200_000 * sf)
    keys = np.arange(n)
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})


def orders(rng, sf):
    n = int(1_500_000 * sf)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, int(150_000 * sf), n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, 0, 2404, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, 1, 2498, n)})


def events(rng, sf):
    n = int(1_000_000 * sf)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def documents(rng, sf):
    n = max(500, int(50_000 * sf))
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), m)])
             for m in rng.integers(10, 101, n)]
    # 5 % planted near-duplicates: another document's text plus a marker
    dup_ids = rng.choice(n, n // 20, replace=False)
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, sf):
    n = max(500, int(20_000 * sf))
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def stream_order(rng, sf):
    """The streamed ratings: a seeded 10 % of the events, in send order."""
    n = int(1_000_000 * sf)
    ids = rng.permutation(n)[: n // 10]
    return pa.table({"seq": pa.array(np.arange(len(ids)), pa.int64()),
                     "event_id": pa.array(ids, pa.int64())})


def generate(out_dir, seed, sf, tables=ALL_TABLES):
    """Write the requested tables under out_dir; existing files are kept."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(ALL_TABLES):
        path = os.path.join(out_dir, f"{name}.parquet")
        if name not in tables or os.path.exists(path):
            continue
        # one independent stream per table: adding a table never shifts another
        rng = np.random.default_rng([seed, i])
        tmp = path + ".tmp"
        pq.write_table(globals()[name](rng, sf), tmp)
        os.replace(tmp, path)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
             sys.argv[4:] or ALL_TABLES)

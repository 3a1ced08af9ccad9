"""Seeded input generator for the benchmark.

Writes the tables the benchmark's workloads read (region, part, orders,
lineitem, events, documents) as one parquet file each, with the column
names, types and value distributions of the TPC-H-like test fixture the
engine is developed against:

- facts (events, orders, lineitem) are drawn uniformly over the fixture's
  key, value and date ranges, ``rows_scale`` times the sf0.1 row counts, so
  a larger scale means proportionally more work of the same shape;
- documents keep the fixture's structure: 30 vocabulary words, 10 to 100
  words per document, 5% near-duplicates (another document's text plus
  " dup"). As in the engine's ``tools/GenScale``, every seed applies its own
  word bijection (a suffix on each non-stopword word) and its own id offset
  (a multiple of 400, so the synthetic media families of 100 ids and their
  4-block phases stay aligned), so seeds share no shingles and no ids.

The same (seed, rows_scale, docs) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "part", "orders", "lineitem", "events", "documents"]
VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter",
         "big", "data", "part", "column", "order", "scan", "a", "slow", "agg",
         "key", "window", "table", "merge", "vector", "join"]
# words the engine's quality gates read (stopwords); they keep their form
# under the per-seed bijection so gate selectivity does not depend on seed
PRESERVED = {"the", "a"}
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "big"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# sf0.1 row counts of the fixture
N_EVENTS, N_ORDERS, N_LINEITEM = 100_000, 150_000, 600_000
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000   # key ranges
N_USERS = 1_500

US_PER_DAY = 86_400 * 1_000_000
EPOCH_2024 = 19_723 * US_PER_DAY          # 2024-01-01
EPOCH_1995 = 9_131 * US_PER_DAY           # 1995-01-01


def scaled(n, rows_scale):
    return max(1, int(n * rows_scale))


def fact_rows(rows_scale):
    """Rows of the fact tables (events, orders, lineitem) at ``rows_scale``."""
    return sum(scaled(n, rows_scale) for n in (N_EVENTS, N_ORDERS, N_LINEITEM))


def doc_id_offset(seed):
    return (seed % 97) * 100_000


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def documents(seed, n_docs):
    """(doc_id, text, lang, source, n_chars) as python lists."""
    rng = np.random.default_rng([seed, 1])
    suffix = f"s{seed % 1000}"
    words = np.array([w if w in PRESERVED else w + suffix for w in VOCAB])
    lengths = rng.integers(10, 101, n_docs)
    picks = rng.integers(0, len(words), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(words[picks[e - k:e]]) for e, k in zip(ends, lengths)]
    dup = rng.random(n_docs) < 0.05
    srcs = rng.integers(0, n_docs, n_docs)
    texts = [texts[s] + " dup" if d and s != i else t
             for i, (t, d, s) in enumerate(zip(texts, dup, srcs))]
    off = doc_id_offset(seed)
    ids = [off + i for i in range(n_docs)]
    langs = rng.choice(LANGS, n_docs, p=LANG_P).tolist()
    return ids, texts, langs, [f"src{i % 20}" for i in range(n_docs)], \
        [len(t) for t in texts]


def generate(out, seed, rows_scale=1.0, n_docs=5_000):
    """Write every table of ``TABLES`` under ``out`` (created if missing)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0])

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    pk = np.arange(N_PART)
    _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})

    n_ord = scaled(N_ORDERS, rows_scale)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    n_li = scaled(N_LINEITEM, rows_scale)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * US_PER_DAY)})
    n_ev = scaled(N_EVENTS, rows_scale)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": pa.array(rng.integers(0, N_USERS, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    ids, texts, langs, sources, n_chars = documents(seed, n_docs)
    _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
        "source": sources, "n_chars": pa.array(n_chars, pa.int64())})

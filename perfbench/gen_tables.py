"""Deterministic generator for the query-mix corpus.

Writes the ten tables every registered query reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the column names and types of
the engine's test tables (FIXTURES.md, section B) and the same value
domains: TPC-H-like keys, prices and dates, a 30-day event stream, a
30-word document vocabulary with 5% near-duplicate documents, and
64-dimensional unit embeddings in ten labels.

The corpus is a pure function of the seed. The query mix always uses
CORPUS_SEED, so the fingerprints in workloads.json stay valid; the run
seed only reorders the queries.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

# row counts: the size of the engine's sf0.1 test tables
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

DAY_US = 86_400_000_000


def _days_us(rng, first, last, n):
    """Midnight timestamps (µs since epoch) drawn uniformly in [first, last]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def _cents(rng, lo, hi, n):
    """Two-decimal values in [lo, hi]: k / 100 is the double a reader
    parses from the decimal text, so round trips stay exact."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(seed=CORPUS_SEED):
    rng = np.random.default_rng(seed)
    n = ROWS
    ts = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, s)})
    p = n["part"]
    keys = np.arange(p)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(rng, ADJECTIVES, p) + " " + _pick(rng, NOUNS, p),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": (9000 + keys % 1000) / 10.0})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _cents(rng, 1000, 500000, o),
        "o_orderdate": pa.array(_days_us(rng, "1995-01-01", "2001-08-01", o), ts),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": pa.array(_days_us(rng, "1995-01-02", "2001-11-04", li), ts)})
    e = n["events"]
    start = np.datetime64("2024-01-01", "D").astype(np.int64) * DAY_US
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(start + np.sort(rng.integers(0, 30 * DAY_US, e)), ts),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    lengths = rng.integers(10, 101, d)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5% near-duplicates: another document's text plus one extra token
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[rng.integers(0, d)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, d, LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out


def write(out_dir, seed=CORPUS_SEED):
    """Write every table as `<out_dir>/<name>.parquet`; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


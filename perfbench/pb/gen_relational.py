"""Seeded generator for the analytics workload's ten tables.

Emits the star schema plus `events`, `documents` and `embeddings` with
the column names, parquet types and value ranges of the engine's test
tables, at sf0.01 (60k lineitem rows, ~2 MB: the size of the engine's
oracle gate), one single-row-group parquet file per table, as the query
suite expects. Every value comes from a
numpy PCG64 stream keyed by (seed, table), so one seed always gives
byte-identical files.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
SF = 0.01
ROWS = {"customer": 150000, "supplier": 10000, "part": 200000,
        "orders": 1500000, "lineitem": 6000000, "events": 1000000,
        "documents": 50000, "embeddings": 20000}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_TABLE_SALT = {t: i for i, t in enumerate(TABLES)}


def _rng(seed, table):
    return np.random.default_rng([seed, _TABLE_SALT[table]])


def _n(table):
    return max(500 if table == "embeddings" else 1, int(ROWS[table] * SF))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ts(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _choice(rng, vals, n, p=None):
    return np.asarray(vals, dtype=object)[rng.choice(len(vals), n, p=p)]


def tables(seed):
    """name -> pyarrow.Table for one seed."""
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    n = _n("customer"); r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": _choice(r, SEGMENTS, n)})

    n = _n("supplier"); r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n)})

    n = _n("part"); r = _rng(seed, "part")
    adj = _choice(r, PART_ADJ, n); noun = _choice(r, PART_NOUN, n)
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": _choice(r, PART_TYPES, n),
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + r.integers(0, 1000, n) / 10.0, 1)})

    n = _n("orders"); r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, _n("customer"), n).astype(np.int64),
        "o_orderstatus": _choice(r, ["F", "O", "P"], n),
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _days_ts(r, "1995-01-01", 2404, n),
        "o_orderpriority": _choice(r, PRIORITIES, n)})

    n = _n("lineitem"); r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, _n("orders"), n).astype(np.int64),
        "l_partkey": r.integers(0, _n("part"), n).astype(np.int64),
        "l_suppkey": r.integers(0, _n("supplier"), n).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(r, ["A", "N", "R"], n),
        "l_linestatus": _choice(r, ["F", "O"], n),
        "l_shipdate": _days_ts(r, "1995-01-02", 2498, n)})

    n = _n("events"); r = _rng(seed, "events")
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + r.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, max(1, int(15000 * SF)), n).astype(np.int64),
        "event_type": _choice(r, EVENT_TYPES, n),
        "value": np.round(r.exponential(40.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})

    n = _n("documents"); r = _rng(seed, "documents")
    lens = r.integers(10, 101, n)
    words = _choice(r, VOCAB, int(lens.sum()))
    texts, off = [], 0
    for ln in lens:
        texts.append(" ".join(words[off:off + ln])); off += ln
    # ~5% near-copies of an earlier document, marked with a trailing word
    for i in np.flatnonzero(r.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _choice(r, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    n = _n("embeddings"); r = _rng(seed, "embeddings")
    v = r.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32)})
    return out


def generate(seed, out_dir):
    """Write one parquet file per table under out_dir; returns truth
    (row counts) for the sidecar."""
    counts = {}
    for name, t in tables(seed).items():
        pq.write_table(t, f"{out_dir}/{name}.parquet", row_group_size=1 << 22)
        counts[name] = t.num_rows
    return {"generator": "relational", "version": VERSION, "seed": seed,
            "sf": SF, "rows": counts}

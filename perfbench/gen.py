"""Seeded input generator: sf0.1-shaped fixtures (TPC-H-ish star schema,
events, documents, embeddings) written as one parquet file per table.

The shapes, cardinalities and value ranges follow the repository's
fixture description (FIXTURES.md): the registry queries read exactly these
columns and the oracles depend on the same types, so the generator keeps
both. Values are drawn from `numpy.random.default_rng(seed)`, so a seed
always yields byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "region": 5, "nation": 25, "supplier": 1_000, "customer": 15_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _cents(rng, lo, hi, n):
    """Doubles with at most two decimals, the low-entropy shape the
    registry casts exactly to DECIMAL(18,6)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, ndays, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = SIZES["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n)})
    n = SIZES["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n).tolist()})
    n = SIZES["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": _pick(rng, names, n).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PTYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})
    n = SIZES["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, SIZES["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n).tolist(),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n).tolist()})
    n = SIZES["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, SIZES["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, SIZES["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, SIZES["supplier"], n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n).tolist(),
        "l_linestatus": _pick(rng, ["F", "O"], n).tolist(),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n), pa.timestamp("us"))})
    n = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    value = np.round(rng.exponential(50.0, n), 2)
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n).tolist(),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    out["documents"] = _documents(rng, SIZES["documents"])
    out["embeddings"] = _embeddings(rng, SIZES["embeddings"])
    return out


def _documents(rng, n):
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # planted duplicates for the dedup operators: ~5% near-duplicates (a
    # copy of another document plus one token) and a few exact copies
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n, dims=64, k=10):
    centers = rng.normal(0.0, 0.07 / np.sqrt(dims), (k, dims)) * np.sqrt(dims)
    label = rng.integers(0, k, n)
    x = centers[label] + rng.normal(0.0, 1.0, (n, dims))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


def write(seed, out_dir, names):
    """Write the named tables under `out_dir`, one `<name>.parquet` each.
    Every table is drawn, so a table's contents do not depend on which
    others are written."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        if name in names:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

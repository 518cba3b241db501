"""Seeded input tables for the benchmark.

The tables follow the shape of the TPC-H-ish fixture the program's
oracle queries are written against (one snappy parquet file per table,
same schemas, key ranges and value distributions): uniform keys and
measures, a 30-word document vocabulary with ~5% planted near-duplicates
(a copy of another document plus one extra token), and random unit
embeddings.

The generator is the benchmark's own: a program change cannot alter the
inputs. Same seed and scale give byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64


def _write(out_dir, name, columns):
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", version="2.6",
                   row_group_size=max(1, table.num_rows))


def _days(rng, lo, hi, n):
    """Uniform midnight timestamps in [lo, hi] as timestamp[us]."""
    lo_d = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - lo_d).astype(int))
    d = lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(VOCAB[w] for w in words[e - k:e])
             for e, k in zip(ends.tolist(), lens.tolist())]
    base = list(texts)
    planted = rng.choice(n, size=max(1, n // 20), replace=False)
    for i in planted.tolist():
        j = int(rng.integers(0, n - 1))
        j += j >= i
        texts[i] = base[j] + " dup"
    return texts


def _unit_vectors(rng, n):
    x = rng.standard_normal((n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def _embeddings_col(x):
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def generate(out_dir, seed, sf):
    """Write the ten base tables at scale factor `sf` under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    k = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": k, "c_name": _names("Customer", k),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})

    k = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": k, "s_name": _names("Supplier", k),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    k = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(
            np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2)})

    k = np.arange(n_ord, dtype=np.int64)
    _write(out_dir, "orders", {
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})

    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in
                           rng.integers(0, 100, n_ev).tolist()])})

    texts = _documents(rng, n_doc)
    k = np.arange(n_doc, dtype=np.int64)
    _write(out_dir, "documents", {
        "doc_id": k, "text": pa.array(texts),
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": np.char.add("src", (k % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _embeddings_col(_unit_vectors(rng, n_emb)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


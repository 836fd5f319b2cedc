"""Seeded generator for the benchmark's input tables.

Writes the ten tables the PRQL corpus and the pipeline operators read
(region nation customer supplier part orders lineitem events documents
embeddings), one single-row-group parquet file each, with the column
names, types and value ranges of the TPC-H-ish test data the repository's
queries are written against. Row counts scale linearly with `sf`
(sf 0.1: 600,000 lineitem rows, 5,000 documents, 2,000 embeddings).

Documents are 10-100 words drawn uniformly from a 30-word vocabulary; one
in twenty is a copy of another document, half of those with a trailing
"dup" token, so the near-duplicate operators find clusters. Embeddings are
unit Gaussian vectors in 64 dimensions with a label in 0..9.

The seed draws every value. The shape the iterative operators' work
depends on is drawn from a fixed stream instead, so it is the same for
every seed: document lengths and which documents copy which (the
near-duplicate graph whose diameter sets label-propagation rounds), and
the embeddings' pairwise cosines (the seed rotates one fixed vector set).

The same (seed, sf) always gives byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "de", "es", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
COLORS = "blue red green black white small large shiny".split()
THINGS = "anvil widget bolt gear spring valve lever pulley".split()
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000
SHAPE_SEED = 20240101


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_rows(sf):
    """Row count of each table at scale factor `sf`."""
    s = sf / 0.1
    return {"region": 5, "nation": 25,
            "customer": round(15000 * s), "supplier": max(1, round(1000 * s)),
            "part": round(20000 * s), "orders": round(150000 * s),
            "lineitem": round(600000 * s), "events": round(100000 * s),
            "documents": round(5000 * s), "embeddings": round(2000 * s)}


def documents_text(rng, shape, n):
    vocab = np.array(VOCAB)
    lens = shape.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    for _ in range(n // 20):
        dst, src = shape.integers(0, n, 2)
        if dst != src:
            texts[dst] = texts[src] + (" dup" if shape.random() < 0.5 else "")
    return texts


def generate(out, seed, sf):
    """Write every table for (seed, sf) under `out`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    shape = np.random.default_rng(SHAPE_SEED)
    n = table_rows(sf)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)})

    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    keys = np.arange(npart)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{COLORS[c]} {THINGS[t]}" for c, t in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})

    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, no) * DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, nl) * DAY_US)})

    ne = n["events"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": _money(rng, 0.01, 500.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = documents_text(rng, shape, nd)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    v = shape.standard_normal((nv, 64))
    rotation, _ = np.linalg.qr(rng.standard_normal((64, 64)))
    v = v / np.linalg.norm(v, axis=1, keepdims=True) @ rotation
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return n

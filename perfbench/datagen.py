"""Seeded sf0.01 fixture tables for the benchmark.

Writes the ten fixture tables (`conf.TABLES`) as parquet files with the
schemas, domains and row counts of the sf0.01 fixtures described in
FIXTURES.md. The same seed writes byte-identical values, so a run's inputs
are a function of ``--seed`` alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
NEAR_DUPS = 25
EXACT_DUPS = 10


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(p)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(259.0, e) * 1e6
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array((start + np.cumsum(gaps).astype(np.int64)).astype("datetime64[us]")),
        "user_id": rng.integers(0, 150, e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(d)]
    # planted near-duplicates: a later document repeats an earlier one with
    # one token replaced, so the dedup operators have clusters to find
    for dst in sorted(rng.choice(np.arange(d // 2, d), NEAR_DUPS, replace=False)):
        toks = texts[int(rng.integers(0, d // 2))].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[dst] = " ".join(toks)
    # and exact duplicates, for the exact-dedup operators
    for dst in rng.choice(np.arange(d // 4, d // 2), EXACT_DUPS, replace=False):
        texts[int(dst)] = texts[int(rng.integers(0, d // 4))]
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(seed: int, out_dir: str) -> str:
    """Write the fixture set for ``seed`` under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

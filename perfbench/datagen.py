"""Deterministic generator for the benchmark's input tables.

Writes the ten engine tables (``engine.io.TABLES``) as one parquet
file each, with the column names, Arrow types and value domains of the
TPC-H-like fixtures the engine is developed against: independent
uniform keys and measures, an exponential ``events.value``, a 30-word
document vocabulary with planted near-duplicates (an earlier document
plus `` dup``) and a few exact duplicates, and unit-norm 64-d
embeddings clustered by label. Row counts scale with ``sf`` the way
the fixtures do (lineitem = 6M x sf).

The tables depend only on ``sf`` and ``seed``; the benchmark keeps
``seed`` fixed so that every run reads the same tables and the
workload seed only varies operation order and block contents.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n) -> pa.Array:
    ts = start + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    return pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64, labels=10) -> pa.Table:
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    vec = centroids[label] + 1.5 * rng.normal(size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(vec.ravel(), pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb, "label": label})


def tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """Build every table in memory (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l = int(1_500_000 * sf), int(6_000_000 * sf)
    n_e, n_u = int(1_000_000 * sf), int(15_000 * sf)
    n_d, n_v = int(50_000 * sf), 500 if sf <= 0.01 else 2000
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)], pa.string()),
            "c_nationkey": i32(rng.integers(0, 25, n_c)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _choice(rng, SEGMENTS, n_c)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)], pa.string()),
            "s_nationkey": i32(rng.integers(0, 25, n_s)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s)}),
        "part": pa.table({
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": _choice(rng, [f"{a} {b}" for a in ADJ for b in NOUN], n_p),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_p),
            "p_type": _choice(rng, PTYPES, n_p),
            "p_size": i32(rng.integers(1, 51, n_p)),
            "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
            "o_orderdate": _days(rng, EPOCH_1995, 2404, n_o),
            "o_orderpriority": _choice(rng, PRIORITIES, n_o)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
            "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
            "l_linenumber": i32(rng.integers(1, 8, n_l)),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_l),
            "l_discount": _money(rng, 0.0, 0.1, n_l),
            "l_tax": _money(rng, 0.0, 0.08, n_l),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _choice(rng, ["F", "O"], n_l),
            "l_shipdate": _days(rng, EPOCH_1995 + np.timedelta64(1, "D"), 2498, n_l)}),
        "events": pa.table({
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": pa.array(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_e))
                           .astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_u, n_e).astype(np.int64),
            "event_type": _choice(rng, EVENT_TYPES, n_e),
            "value": np.round(rng.exponential(50.0, n_e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
                              pa.string())}),
    }
    out["documents"] = _documents(rng, n_d)
    out["embeddings"] = _embeddings(rng, n_v)
    return out


def write(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

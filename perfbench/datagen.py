"""Seeded synthetic tables in the engine's input layout.

The tables follow the TPC-H-ish star schema plus the `events`,
`documents` and `embeddings` tables the engine's catalog queries read:
same column names, types and value domains, one parquet file per table.
Sizes scale with `sf` the same way the engine's reference inputs do
(lineitem has 6M * sf rows).  The same seed always yields byte-for-byte
the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark group "
    "part big sort query fast"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(offsets_us.astype(np.int64) + epoch_us, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_table(name: str, sf: float, seed: int) -> pa.Table:
    """One table, generated from its own stream of the seed so a
    workload that needs only some tables gets the same values for them."""
    n = sizes(sf)
    rng = np.random.default_rng([seed, sorted(n).index(name)])
    rows = n[name]
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(rows), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(rows)]),
            "c_nationkey": pa.array(rng.integers(0, 25, rows), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, rows)),
            "c_mktsegment": _pick(rng, SEGMENTS, rows),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(rows), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(rows)]),
            "s_nationkey": pa.array(rng.integers(0, 25, rows), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, rows)),
        })
    if name == "part":
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        keys = np.arange(rows)
        return pa.table({
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(rng, names, rows),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, rows)]),
            "p_type": _pick(rng, PART_TYPES, rows),
            "p_size": pa.array(rng.integers(1, 51, rows), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(rows), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], rows), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], rows),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, rows)),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                               rng.integers(0, 2404, rows) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, rows),
        })
    if name == "lineitem":
        qty = rng.integers(1, 51, rows).astype(np.float64)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], rows), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], rows), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], rows), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, rows), 2)),
            "l_discount": pa.array(rng.integers(0, 11, rows) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, rows) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], rows),
            "l_linestatus": _pick(rng, ["F", "O"], rows),
            "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                              rng.integers(0, 2498, rows) * _DAY_US),
        })
    if name == "events":
        gaps = rng.exponential(30 * _DAY_US / rows, rows)
        return pa.table({
            "event_id": pa.array(np.arange(rows), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, max(1, n["customer"] // 10), rows), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, rows),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, rows), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        })
    if name == "documents":
        vocab = np.asarray(VOCAB, dtype=object)
        texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
                 for k in rng.integers(10, 100, rows)]
        # ~5% near-duplicates: another document's text plus one token
        for i in np.flatnonzero(rng.random(rows) < 0.05):
            texts[i] = texts[int(rng.integers(0, rows))] + " dup"
        return pa.table({
            "doc_id": pa.array(np.arange(rows), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, rows, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(rows)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if name == "embeddings":
        dim = 64
        centers = rng.normal(size=(10, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        label = rng.integers(0, 10, rows)
        vec = 1.2 * centers[label] + rng.normal(size=(rows, dim))
        vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
        offsets = pa.array(np.arange(0, rows * dim + 1, dim, dtype=np.int32))
        return pa.table({
            "vec_id": pa.array(np.arange(rows), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label, pa.int32()),
        })
    raise KeyError(name)


def write_tables(out_dir: str, names: list[str], sf: float, seed: int) -> dict[str, int]:
    """Write `<out_dir>/<name>.parquet` for each table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in names:
        table = make_table(name, sf, seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts

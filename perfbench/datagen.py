"""Seeded star-schema inputs for the benchmark.

Writes the four tables the engine's reference-shaped views read
(``customer``, ``part``, ``orders``, ``lineitem``; see
``sources/views.py``) as parquet, shaped like the TPC-H-style test data:
at scale factor ``sf`` there are 150k·sf customers, 200k·sf parts, 1.5M·sf
orders and 6M·sf line items; every foreign key and ``l_quantity`` (1..50)
is drawn uniformly. Only the columns the views read are written.

The same ``(sf, seed)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_ADJ = np.array(["large", "hot", "blue", "small", "red", "green", "dark", "pale",
                 "bright", "plain", "old", "new"])
_NOUN = np.array(["ring", "bolt", "gear", "spring", "plate", "valve", "pipe", "nut",
                  "clip", "frame", "panel", "chain"])
_TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150_000 * sf), 10),
        "part": max(int(200_000 * sf), 10),
        "orders": max(int(1_500_000 * sf), 10),
        "lineitem": max(int(6_000_000 * sf), 10),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the tables under ``out_dir/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    nc, np_, no, nl = n["customer"], n["part"], n["orders"], n["lineitem"]

    custkey = np.arange(nc, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), nc)],
    })
    partkey = np.arange(np_, dtype=np.int64)
    part = pa.table({
        "p_partkey": partkey,
        # the part key in the name keeps (title, author) unique per book, so
        # a response can be checked against a user's rated books by title
        "p_name": [f"{a} {b} {k}" for a, b, k in zip(
            _ADJ[rng.integers(0, len(_ADJ), np_)],
            _NOUN[rng.integers(0, len(_NOUN), np_)], partkey)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype("U")),
        "p_type": _TYPES[rng.integers(0, len(_TYPES), np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
    })
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("customer", customer), ("part", part),
                        ("orders", orders), ("lineitem", lineitem)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return n

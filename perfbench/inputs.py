"""Seeded workload inputs, built once per (scale factor, seed) under the
cache dir, and the edge checksum every run verifies.

The two TPC-H-ish tables the workloads read are generated in the shape
of the engine's test data (uniform keys, ~4 lines per order):
``orders(o_orderkey, o_custkey)`` and
``lineitem(l_orderkey, l_partkey, l_suppkey)``.  Pure numpy, so the
program under test only ever sees the generated parquet.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: TPC-H cardinalities per unit scale factor (test-data shape)
ORDERS_PER_SF = 1_500_000
CUSTOMERS_PER_SF = 150_000
PARTS_PER_SF = 200_000
SUPPLIERS_PER_SF = 10_000
LINES_PER_ORDER = 4


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _commit(tmp: str, path: str, meta: dict) -> None:
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def tables(cache_dir: str, sf: float, seed: int) -> str:
    """Directory holding ``orders.parquet`` and ``lineitem.parquet``."""
    path = os.path.join(cache_dir, f"tables_sf{sf:g}_seed{seed}")
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    n_orders = int(ORDERS_PER_SF * sf)
    n_lines = LINES_PER_ORDER * n_orders
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, int(CUSTOMERS_PER_SF * sf), n_orders),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, int(PARTS_PER_SF * sf), n_lines),
        "l_suppkey": rng.integers(0, int(SUPPLIERS_PER_SF * sf), n_lines),
    })
    pq.write_table(orders, os.path.join(tmp, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(tmp, "lineitem.parquet"))
    _commit(tmp, path, {"sf": sf, "seed": seed, "orders": n_orders, "lines": n_lines})
    return path


# -- checksums ----------------------------------------------------------

#: checksum = (rows, Σsrc, Σdst, Σ((src·P + dst) mod M)) — exact in int64
#: on both engines for vertex ids < 2^31
CK_P, CK_M = 1_000_003, 2_147_483_647


def checksum_numpy(src: np.ndarray, dst: np.ndarray) -> dict:
    mix = (src * CK_P + dst) % CK_M
    return {"rows": int(src.size), "sum_src": int(src.sum()),
            "sum_dst": int(dst.sum()), "sum_mix": int(mix.sum())}


def checksum_spark(edges) -> dict:
    from pyspark.sql import functions as F

    r = edges.agg(
        F.count("*").alias("rows"), F.sum("src").alias("sum_src"),
        F.sum("dst").alias("sum_dst"),
        F.sum((F.col("src") * CK_P + F.col("dst")) % CK_M).alias("sum_mix"),
    ).collect()[0]
    return {k: int(r[k] or 0) for k in ("rows", "sum_src", "sum_dst", "sum_mix")}

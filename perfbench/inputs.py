"""Seeded benchmark inputs.

The tables have the shape of the repository's TPC-H-like test data
(``orders`` keyed by ``o_orderkey``, ``lineitem`` rows pointing at an
order with a line number 1-7): a fixed base key space of ``sf`` scale is
drawn with one generator, and the workload seed then keeps a ~90% sample
of the order keys.  The same seed always gives the same files, so Spark
and the DuckDB oracles read identical inputs.
"""

from __future__ import annotations

import os

import numpy as np

import pyarrow as pa
import pyarrow.parquet as pq

#: Base generator seed: the key space is the same for every workload seed.
BASE_SEED = 42
KEEP_SHARE = 0.9


def key_space(sf: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(order keys, lineitem order keys, lineitem line numbers) of the
    unsampled base tables at scale ``sf`` (sf 0.1 = 150k orders and
    600k lineitem rows, as in the repository's test data)."""
    n_orders = max(30, round(1_500_000 * sf))
    n_lines = max(120, round(6_000_000 * sf))
    rng = np.random.default_rng(BASE_SEED)
    l_orderkey = rng.integers(0, n_orders, n_lines, dtype=np.int64)
    l_linenumber = rng.integers(1, 8, n_lines, dtype=np.int32)
    return np.arange(n_orders, dtype=np.int64), l_orderkey, l_linenumber


def sampled_keys(sf: float, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Boolean masks (orders kept, lineitem rows kept) for ``seed``."""
    orders, l_orderkey, _ = key_space(sf)
    keep = np.random.default_rng(seed).random(len(orders)) < KEEP_SHARE
    return keep, keep[l_orderkey]


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``orders.parquet`` and ``lineitem.parquet`` (the sampled
    keys) under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    orders, l_orderkey, l_linenumber = key_space(sf)
    keep_o, keep_l = sampled_keys(sf, seed)
    pq.write_table(pa.table({"o_orderkey": orders[keep_o]}),
                   os.path.join(out_dir, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": l_orderkey[keep_l],
        "l_linenumber": l_linenumber[keep_l],
    }), os.path.join(out_dir, "lineitem.parquet"))


def line_pairs(sf: float, seed: int) -> tuple[list, list]:
    """Distinct (orderkey, linenumber) pairs of the base lineitem: those
    the seed's sample kept, and those it left out (paths a new ingest
    batch can add)."""
    _, l_orderkey, l_linenumber = key_space(sf)
    _, keep_l = sampled_keys(sf, seed)
    kept = set(zip(l_orderkey[keep_l].tolist(), l_linenumber[keep_l].tolist()))
    dropped = set(zip(l_orderkey[~keep_l].tolist(),
                      l_linenumber[~keep_l].tolist()))
    return sorted(kept), sorted(dropped)

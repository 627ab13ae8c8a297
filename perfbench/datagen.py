"""Deterministic base tables for the benchmark, written as parquet.

The tables follow the schema of the program's built-in relations
(``snappy_aqp_spark.tables.TABLE_COLUMNS``) and keep every numeric column
inside the static quantization bounds declared there, so approximate
answers are exactly replayable in DuckDB. Content depends only on the
scale arguments, never on the workload seed: the seed shapes query texts
and constants, the miss sequence and the stream batch slicing, so run-to-run
cost differences come from the program, not from different data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

_US_PER_DAY = 86_400_000_000
_LI_EPOCH_US = 788_918_400_000_000       # 1995-01-01
_EV_EPOCH_US = 1_704_067_200_000_000     # 2024-01-01
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"])
_EVENT_TYPES = np.array(["view", "click", "error", "signup", "purchase"])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us"))


def lineitem(n_orders: int, rng: np.random.Generator) -> pa.Table:
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(
        np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, n), 2)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(2, n_orders // 7), n),
        "l_suppkey": rng.integers(0, max(2, n_orders // 150), n),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_LI_EPOCH_US
                          + rng.integers(0, 2500, n) * _US_PER_DAY),
    })


def orders(n_orders: int, rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, max(2, n_orders // 10), n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(_LI_EPOCH_US
                           + rng.integers(0, 2400, n_orders) * _US_PER_DAY),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
    })


def events(n: int, rng: np.random.Generator) -> pa.Table:
    ts = _EV_EPOCH_US + np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        # skewed users so the TopK head is well separated
        "user_id": np.minimum(rng.zipf(1.3, n) - 1, 1499).astype(np.int64),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.exponential(50.0, n), 499.0), 2),
        "props": np.char.add(np.char.add('{"k": ',
                                         rng.integers(0, 100, n).astype(str)),
                             "}"),
    })


def write_tables(out_dir: str, n_orders: int, n_events: int,
                 names=None) -> dict[str, int]:
    """Write the requested tables as ``<out_dir>/<name>.parquet``; returns
    row counts. Each table draws from its own stream, so asking for a
    subset writes the same content as asking for all."""
    builders = {
        "lineitem": lambda r: lineitem(n_orders, r),
        "orders": lambda r: orders(n_orders, r),
        "events": lambda r: events(n_events, r),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(builders):
        if names is not None and name not in names:
            continue
        table = builders[name](np.random.default_rng([DATA_SEED, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

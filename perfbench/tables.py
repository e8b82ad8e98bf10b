"""Seeded generator for the ``analytics`` input tables.

Writes ``region nation supplier part orders lineitem`` with the same
schemas as the repo's synthetic test data (one parquet file per table, one
row group each), the tables ``plans.invoices_view`` joins. Row counts scale
like TPC-H: 1.5M orders and about 6M lineitems per unit of scale.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_invoice_tables(out_dir: str, seed: int, scale: float) -> None:
    """region/nation/supplier/part/orders/lineitem at ``scale`` (TPC-H-like
    row counts: 1.5M orders and 6M lineitems per unit scale)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_supp, n_part = int(10000 * scale), int(200000 * scale)
    n_orders = int(1500000 * scale)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    colors = np.array(["almond", "azure", "blush", "coral", "ivory", "khaki", "linen", "navy"])
    _write(out_dir, "part", {
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(colors, n_part), rng.choice(colors, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE"]), n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
    })
    start = np.datetime64("1992-01-01T00:00:00", "us")
    day_us = np.int64(86400 * 10**6)
    order_dates = start + rng.integers(0, 2400, n_orders) * day_us
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, int(150000 * scale) + 1, n_orders),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
        "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_orders),
    })
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), per_order)
    linenumber = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, n_part + 1, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": pa.array(np.repeat(order_dates, per_order) + rng.integers(1, 122, n_li) * day_us,
                               pa.timestamp("us")),
    })

"""Seeded ``orders`` and ``customer`` parquet tables for ``table_lifecycle``.

Same schemas as the library's TPC-H-style test tables (the lifecycle
queries read only these two), at a third of the sf0.1 row counts to fit
the benchmark's run budget; the lifecycle queries cost per job, not per
row.  Prices are whole cents, so a rounded sum is exact in both Spark and
DuckDB and the oracle comparison can be strict.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 50_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FIRST_DAY = np.datetime64("1992-01-01", "us")
N_DAYS = 2405  # through 1998-08-02


def write_tables(out_dir: str, seed: int, n_orders: int = N_ORDERS) -> dict[str, int]:
    """Write ``customer.parquet`` and ``orders.parquet`` (one customer per
    ten orders); return their sizes in bytes."""
    rng = np.random.default_rng(seed)
    n_customers = n_orders // 10
    os.makedirs(out_dir, exist_ok=True)
    custkey = np.arange(1, n_customers + 1, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": custkey,
            "c_name": [f"Customer#{k:09d}" for k in custkey],
            "c_nationkey": rng.integers(0, 25, n_customers, dtype=np.int32),
            "c_acctbal": rng.integers(-99_999, 999_999, n_customers) / 100.0,
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_customers)],
        }
    )
    # sparse, sorted order keys, as in TPC-H
    orderkey = np.sort(rng.choice(n_orders * 4, n_orders, replace=False)).astype(np.int64) + 1
    days = rng.integers(0, N_DAYS, n_orders)
    orders = pa.table(
        {
            "o_orderkey": orderkey,
            "o_custkey": rng.integers(1, n_customers + 1, n_orders, dtype=np.int64),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_orders)],
            "o_totalprice": rng.integers(85_000, 55_500_000, n_orders) / 100.0,
            "o_orderdate": FIRST_DAY + days.astype("timedelta64[D]"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    sizes = {}
    for name, table in (("customer", customer), ("orders", orders)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes

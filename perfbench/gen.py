"""Seeded inputs for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` with fixed
row counts, so one seed always gives the same bytes and every seed
gives the same amount of work. Schemas and value ranges follow the
repository's sf fixtures (TPC-H-like star schema plus ``events``); the
row counts are those of sf0.01, where a query's wall time is mostly
Spark's fixed per-query cost.

The stream's geo points are not drawn here: the package derives them
from the events table (``plans.geo.geo_events``, see
``workloads.stage_points``), and :func:`write_arrival_files` cuts them
into equal arrival files in event order.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "embeddings": 500,
}
EMBED_DIM = 64
N_EVENT_USERS = 150

POINT_FILES = 3
POINTS_PER_FILE = 2_500

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n) -> pa.Array:
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the relational, events and embeddings tables as ``<out_dir>/<name>.parquet``;
    returns the row count of each table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = ROWS
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n["customer"])],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n["orders"]),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n["orders"])],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
            "l_partkey": rng.integers(0, 2000, n["lineitem"]).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n["lineitem"])],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n["lineitem"]),
        }),
    }
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(start + offs),
        "user_id": rng.integers(0, N_EVENT_USERS, ne).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    ne = ROWS["embeddings"]
    vec = rng.standard_normal((ne, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, ne).astype(np.int32),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_arrival_files(points: pa.Table, out_dir: str) -> list[str]:
    """Cut ``points`` into POINT_FILES equal files in event order.

    The stream's file source reads files in modification-time order and
    breaks ties in directory-listing order, so the files get mtimes one
    second apart: arrival order is then event order on every run."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    t0 = int(time.time()) - POINT_FILES
    for i in range(POINT_FILES):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(points.slice(i * POINTS_PER_FILE, POINTS_PER_FILE), p)
        os.utime(p, (t0 + i, t0 + i))
        paths.append(p)
    return paths

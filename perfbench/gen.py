"""Seeded input generator for the benchmark workloads.

Writes the tables a workload reads as parquet files with the column
names and physical types of the testdata tables (TESTDATA.md):
``<out>/<table>.parquet``. The same ``--seed`` gives byte-identical
tables; the value distributions follow the testdata (uniform keys,
2-decimal prices, hourly-spread events, unit-norm float32 embeddings)
so every workload query keeps its DuckDB oracle.

Usage: python3 perfbench/gen.py --workload integration_small --seed 42 --out DIR
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: the sf0.01 testdata sizes, and 1,000 embeddings
ROWS = {
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "embeddings": 1_000,
}
EMBED_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_US_PER_DAY = 86_400 * 1_000_000


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    """Midnight timestamps (µs) uniform over ``n_days`` days from ``start``."""
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days + 1, n) * _US_PER_DAY


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi]."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100, 2)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def nation() -> pa.Table:
    keys = np.arange(ROWS["nation"], dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": keys % 5,
        }
    )


def customer(rng: np.random.Generator) -> pa.Table:
    n = ROWS["customer"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )


def supplier(rng: np.random.Generator) -> pa.Table:
    n = ROWS["supplier"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "s_suppkey": keys,
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n),
        }
    )


def orders(rng: np.random.Generator) -> pa.Table:
    n = ROWS["orders"]
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, ROWS["customer"], n),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(_days(rng, "1995-01-01", 2404, n)),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def lineitem(rng: np.random.Generator) -> pa.Table:
    n = ROWS["lineitem"]
    quantity = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, ROWS["orders"], n),
            "l_partkey": rng.integers(0, 2_000, n),
            "l_suppkey": rng.integers(0, ROWS["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * _cents(rng, 900.0, 2099.99, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(_days(rng, "1995-01-02", 2498, n)),
        }
    )


def events(rng: np.random.Generator) -> pa.Table:
    """Time-ordered events over January 2024, ~67 events per user."""
    n = ROWS["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n * 3 // 200, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit-norm float32 vectors with a uniform 0-9 label."""
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


# tables each workload reads; the order fixes the random stream
WORKLOAD_TABLES = {
    "integration_small": {
        "nation": lambda rng: nation(),
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    },
    "ann_vectors": {"embeddings": embeddings},
}


def generate(workload: str, seed: int, out_dir: str) -> dict[str, int]:
    """Write the workload's tables under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, make in WORKLOAD_TABLES[workload].items():
        table = make(rng)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(generate(args.workload, args.seed, args.out))


if __name__ == "__main__":
    main()

"""Seeded input generation for the benchmark workloads.

Every input is built with NumPy from the workload seed and written as
snappy parquet into the run's work directory; the engine only ever reads
those files. The same seed always yields the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_STATES = ["Ohio", "Texas", "California", "Nevada", "Oregon", "Iowa", "Maine"]
_CITIES = ["Springfield", "Columbus", "Austin", "Fresno", "Reno", "Salem", "Ames"]
_FIRST = ["Alex", "Sam", "Jordan", "Casey", "Riley", "Morgan", "Quinn", "Drew"]
_LAST = ["Smith", "Lee", "Patel", "Garcia", "Kim", "Chen", "Lopez", "Brown"]
_PRIORITIES = ["LOW", "MEDIUM", "HIGH"]
_TPCH_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    return path


def file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


class KeySource:
    """Distinct random 16-hex-digit string keys (uuid4-like: uniformly
    spread, so range stats cannot narrow an upsert)."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.used: set[str] = set()

    def take(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            for v in self.rng.integers(0, 2**63, n - len(out)):
                k = f"{int(v):016x}"
                if k not in self.used:
                    self.used.add(k)
                    out.append(k)
        return out


def _pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


# -- medallion (reference Lab2 schema) ------------------------------------


def customers(rng, ids: list[str], created: str, tag: str) -> pa.Table:
    n = len(ids)
    h = rng.integers(0, 10**6, n)
    return pa.table(
        {
            "customer_id": pa.array(ids),
            "name": pa.array(
                [f"{_FIRST[x % 8]} {_LAST[(x // 8) % 8]}" for x in h.tolist()]
            ),
            "state": _pick(rng, _STATES, n),
            "city": _pick(rng, _CITIES, n),
            "email": pa.array([f"{k[:8]}.{tag}@example.com" for k in ids]),
            "created_at": pa.array([created] * n),
            "address": pa.array([f"{100 + x % 9899} Main St" for x in h.tolist()]),
        }
    )


def customer_changes(base: pa.Table, ids: list[str], created: str, tag: str) -> pa.Table:
    """MERGE source rows for existing customers: new email and
    ``created_at``, same partition value (``state``) as stored."""
    idx = {k: i for i, k in enumerate(base.column("customer_id").to_pylist())}
    rows = base.take([idx[k] for k in ids])
    return (
        rows.set_column(4, "email", pa.array([f"{k[:8]}.{tag}@example.com" for k in ids]))
        .set_column(5, "created_at", pa.array([created] * len(ids)))
    )


def orders(rng, ids: list[str], cust_ids: np.ndarray, day: dt.date) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "order_id": pa.array(ids),
            "name": pa.array([f"order item {x}" for x in rng.integers(0, 100, n).tolist()]),
            "order_value": pa.array([str(x) for x in rng.integers(10, 1001, n).tolist()]),
            "priority": _pick(rng, _PRIORITIES, n),
            "order_date": pa.array([day.isoformat()] * n),
            "customer_id": pa.array(cust_ids[rng.integers(0, len(cust_ids), n)]),
        }
    )


def iso_ts(day: int) -> str:
    t = dt.datetime(2024, 1, 1) + dt.timedelta(days=day)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")


# -- TPC-H shaped orders (keyed_reads, mor_compaction) --------------------


def tpch_orders(rng, keys: np.ndarray, version: int) -> pa.Table:
    n = len(keys)
    start = dt.date(1992, 1, 1).toordinal()
    days = rng.integers(0, 2400, n)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, 15001, n), pa.int64()),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n), 2)),
            "o_orderdate": pa.array(
                [dt.date.fromordinal(start + d) for d in days.tolist()], pa.date32()
            ),
            "o_orderpriority": _pick(rng, _TPCH_PRIORITIES, n),
            "o_comment": pa.array(
                [f"comment {x:x} for the order ledger" for x in rng.integers(0, 2**40, n).tolist()]
            ),
            "o_version": pa.array(np.full(n, version), pa.int64()),
        }
    )


def sparse_keys(rng, n: int) -> np.ndarray:
    """``n`` distinct sorted keys drawn from ``[1, 4n]``, so absent keys
    fall between present ones (TPC-H order keys are sparse too)."""
    return np.sort(rng.choice(np.arange(1, 4 * n + 1), size=n, replace=False))

"""Seeded input tables for the benchmark.

Writes the two tables the workloads read, `events` and `orders`, as
one parquet file each, with the physical schema and value domains of
the project's fixture tables (see FIXTURES.md).  The same seed always
gives the same rows, so every run of a workload sees identical
inputs, and two seeds differ only in values, never in shape.  Row
counts scale with `sf` the way the fixtures do: events has
1,000,000 x sf rows on 15,000 x sf users, orders 1,500,000 x sf rows.

The benchmark may read only its own checkout, so it cannot slice the
fixture files themselves; the generator is fitted to them instead.
Measured on the sf0.1 fixture `events` (100,000 rows) against this
generator at seed 1 (perfbench/README.md, "Inputs"):

- keys: 1,500 users, every one present; events per user min 45,
  p10/p50/p90/p99 56/66/78/86, max 99, stddev 8.2 (generator: 44,
  56/66/77/86, 107, 8.3), which is a uniform draw (Poisson with mean
  66.7 has stddev 8.2).  A 500-event slice holds 407-441 distinct
  users, mean 426 (generator 404-444, mean 426).
- event_type: five types, each 19.8-20.3% of the rows, so about 20%
  are 'error' deletes; the per-user error share has stddev 0.049
  (generator 0.049): types do not depend on the user.  The last
  event of 1,206 users is not a delete (generator 1,192).
- value: p10/p25/p50/p75/p90/p99 5.35/14.64/34.77/68.9/114.3/228.1,
  mean 49.9, max 560.2, two decimals (generator 5.30/14.46/34.79/
  69.34/114.9/228.1, mean 49.9, max 539.5): exponential, mean 50.
- ts: timestamp[us], 2024-01-01 to 2024-01-30, about 23,300 rows per
  week, non-decreasing in event_id; props '{"k": <0..99>}'.
- orders: o_orderstatus and o_orderpriority uniform over their three
  and five values, o_totalprice uniform on 1,000-500,000 (median
  249,938; generator 250,097).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_US_PER_DAY = 86_400_000_000
#: 2024-01-01T00:00:00Z in microseconds: start of the 30-day events window
_EVENTS_T0 = 1_704_067_200_000_000
#: 1995-01-01 in days since the epoch: start of the order dates
_ORDERS_DAY0 = 9131


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], type=pa.string())


def events_table(rng, sf: float) -> pa.Table:
    """Change events ordered by (ts, event_id); values exponential with
    mean 50, as in the fixtures."""
    n = round(1_000_000 * sf)
    ts = np.sort(rng.choice(30 * _US_PER_DAY, n, replace=False)) + _EVENTS_T0
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, round(15_000 * sf), n,
                                         dtype="int64")),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          type=pa.string()),
    })


def orders_table(rng, sf: float) -> pa.Table:
    n = round(1_500_000 * sf)
    days = _ORDERS_DAY0 + rng.integers(0, 2404, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, round(150_000 * sf), n,
                                           dtype="int64")),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n),
                                          2)),
        "o_orderdate": pa.array(days * _US_PER_DAY, type=pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


TABLES = {"events": (events_table, 1), "orders": (orders_table, 2)}


def write_tables(out_dir: str, seed: int, sf: float,
                 names: tuple[str, ...]) -> str:
    """Write the named tables for (`seed`, `sf`) under `out_dir` and
    return it.  Each table has its own random stream, so its rows do
    not depend on which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        make, stream = TABLES[name]
        table = make(np.random.default_rng([seed, stream]), sf)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

"""Seeded input generator for the benchmark.

`--seed` is the only source of randomness: every table is a pure function
of (seed, size). Different seeds give the same row counts and the same
distributions, so a claim made on one seed can be re-checked on another.

Events follow the shape of the sf0.1 reference tables (measured once,
constants below): ~66.7 events per user, five equiprobable event types,
values exponential with mean 50 rounded to cents, a 30-day span, a
`props` JSON payload `{"k": 0..99}`, and `event_id` ordered by `ts`. The
parquet row order carries a bounded out-of-orderness (each row moves at
most OOO_ROWS positions from its event-id slot), so no operator may rely
on file order. Scale grows by adding users at the same per-user density
(more keys, not denser keys), so Kleene and trend outputs grow linearly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_PER_USER = 200 / 3  # sf0.1: 100,000 events over 1,500 users
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SPAN_US = 30 * 86_400 * 1_000_000
START_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
VALUE_MEAN = 50.0
OOO_ROWS = 16


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so adding a table never shifts
    another table's draws."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def events_table(seed: int, users: int) -> pa.Table:
    rng = _rng(seed, "events")
    n = round(users * EVENTS_PER_USER)
    ts = START_US + np.sort(rng.integers(0, SPAN_US, n))
    user = rng.integers(0, users, n)
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(VALUE_MEAN, n), 2)
    k = rng.integers(0, 100, n)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    # bounded arrival disorder: sort by (slot + jitter) moves each row by at
    # most OOO_ROWS positions
    order = np.argsort(np.arange(n) + rng.integers(0, OOO_ROWS + 1, n), kind="stable")
    return pa.table(
        {
            "event_id": pa.array(order, type=pa.int64()),
            "ts": pa.array(ts[order], type=pa.timestamp("us")),
            "user_id": pa.array(user[order], type=pa.int64()),
            "event_type": pa.array(etype[order]),
            "value": pa.array(value[order]),
            "props": pa.array(props[order]),
        }
    )


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def spool(out_dir: str, table: pa.Table, files: int) -> list[int]:
    """Split `table` (already in arrival order) into `files` equal parquet
    files named in arrival order; returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    cuts = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(cuts[i], cuts[i + 1] - cuts[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return list(np.diff(cuts))

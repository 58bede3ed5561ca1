"""Seeded input tables for the query workloads.

The engine's queries derive every point's (lat, lng) from its ``event_id``
(``engine.specs.latlng_sql``), so a seeded id remap yields new geometry —
the way ``tools/gen_sf.py`` scales the testdata up.  The tables are written
with the testdata schema (TESTDATA.md), generated here with numpy so the
benchmark needs nothing outside its checkout:

``events``: ``n`` rows, ids ``base .. base+n-1`` where ``base`` is a function
of the seed; ~67 events per user, timestamps uniform over January 2024
(sorted), five event types.  Same seed, same bytes of input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_PER_USER = 67
_TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_MONTH_US = 30 * 86_400 * 1_000_000


def id_base(seed: int) -> int:
    """First event id for a seed: a remap stride of 10^6 keeps every seed's
    id range disjoint and the LCG derivation far from int64 overflow."""
    return (seed % 100_000 + 1) * 1_000_000


def events_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, n])
    n_users = max(1, n // EVENTS_PER_USER)
    ts = np.sort(rng.integers(0, _MONTH_US, n)) + _TS0_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64) + id_base(seed)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_events(out_dir: str, seed: int, n: int) -> int:
    """Write ``<out_dir>/events.parquet``; returns its row count."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events_table(seed, n), os.path.join(out_dir, "events.parquet"))
    return n

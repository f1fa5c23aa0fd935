"""Seeded input table for the ``registry`` workload.

The registry queries read ``{sf_dir}/{table}.parquet``.  The queries the
workload runs read only ``events``; this module writes it with the
schema and value ranges of the repository's sf0.001/sf0.01 test tables,
drawn from a numpy generator keyed on the workload seed: the same seed
gives the same table, another seed another draw of the same
distribution.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    n_users = max(15, n // 67)
    # microsecond timestamps over January 2024, like the test tables
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = rng.integers(0, 30 * 86400 * 1_000_000, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, size=n)]),
    })


def write_events(out_dir: str, seed: int, n_events: int) -> int:
    """Write the seeded ``events`` table under ``out_dir``; returns rows."""
    rng = np.random.default_rng(np.random.Philox(key=0x5EED ^ seed))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events_table(rng, n_events),
                   os.path.join(out_dir, "events.parquet"))
    return n_events

"""Seeded synthetic event log in the engine's `events` schema.

Columns: event_id, ts, user_id, event_type, value, props (``{"k": N}``
carries the item id, as in the harness tables).  Item popularity is Zipf
over a shuffled catalog; per-user activity is lognormal, so a few heavy
users and a few head items dominate the co-occurrence fan-out that the
similarity and scoring joins pay for.  Activity is drawn at the lognormal's
stratified quantiles and dealt to users at random: every seed has the same
activity profile (the heavy tail does not swing the workload's size from
seed to seed) while users, items and times differ.  The same (seed, shape)
always gives the same file.
"""

from __future__ import annotations

from dataclasses import dataclass
from statistics import NormalDist

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_TYPE_P = (0.55, 0.2, 0.1, 0.05, 0.1)
T0 = np.datetime64("2024-01-01T00:00:00", "us")
SPAN_US = 30 * 24 * 3600 * 1_000_000


@dataclass(frozen=True)
class Shape:
    users: int
    items: int
    zipf: float  # item-popularity exponent: p(rank r) ~ r^-zipf
    activity_mean: float  # mean events per user
    activity_sigma: float  # lognormal spread of events per user


def make_events(seed: int, shape: Shape) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    # lognormal with the requested mean: mu = ln(mean) - sigma^2 / 2
    mu = np.log(shape.activity_mean) - shape.activity_sigma**2 / 2
    z = np.array([NormalDist().inv_cdf((u + 0.5) / shape.users) for u in range(shape.users)])
    per_user = rng.permutation(
        np.maximum(1, np.rint(np.exp(mu + shape.activity_sigma * z))).astype(np.int64)
    )
    user_id = np.repeat(np.arange(shape.users, dtype=np.int64), per_user)
    n = len(user_id)

    ranks = np.arange(1, shape.items + 1, dtype=np.float64)
    p = ranks ** -shape.zipf
    catalog = rng.permutation(shape.items).astype(np.int64)
    item = catalog[rng.choice(shape.items, size=n, p=p / p.sum())]

    ts = T0 + np.sort(rng.integers(0, SPAN_US, size=n)).astype("timedelta64[us]")
    order = rng.permutation(n)  # users interleave in time
    user_id, item = user_id[order], item[order]
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": user_id,
            "event_type": np.asarray(EVENT_TYPES, dtype=object)[
                rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
            ],
            "value": np.round(rng.lognormal(3.0, 1.0, n), 2),
            "props": pd.Series(item).map('{{"k": {}}}'.format).to_numpy(object),
        }
    )


def write_events(seed: int, shape: Shape, data_dir: str) -> tuple[str, int]:
    """Write ``<data_dir>/events.parquet``; return (path, rows)."""
    df = make_events(seed, shape)
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    path = f"{data_dir}/events.parquet"
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
    return path, len(df)

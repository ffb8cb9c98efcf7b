"""Seeded benchmark inputs.

Everything here is a pure function of the seed: the same seed gives the
same bytes. The program under test only ever sees the staged parquet.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
_SPAN_US = 30 * 24 * 3600 * 1_000_000


def events(seed: int, n_events: int, n_users: int) -> pa.Table:
    """An ``events`` table shaped like the repo's test-data one (TESTDATA.md):
    ``(event_id, ts, user_id, event_type, value, props)`` with uniform
    users and event types, ``props = '{"k": <0..99>}'`` and timestamps
    spread over 30 days (event_id follows ts order)."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, _SPAN_US, n_events)) + _EPOCH
    k = rng.integers(0, 100, n_events)
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_events)],
            "value": np.round(rng.uniform(0, 200, n_events), 2),
            "props": np.char.add(np.char.add('{"k": ', k.astype(str)), "}"),
        }
    )


def transcripts(ev: pa.Table) -> pd.DataFrame:
    """numpy/pandas mirror of ``graft.io.events_to_transcripts``."""
    df = ev.to_pandas()
    df = df.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    k = df["props"].str.extract(r"(\d+)", expand=False).astype(np.int64)
    tool = np.where(
        df["event_type"].isin(["purchase", "error"]),
        "t" + (k % 8).astype(str),
        None,
    )
    return pd.DataFrame(
        {
            "conv_id": df["user_id"].astype(str).to_numpy(),
            "turn_idx": df.groupby("user_id").cumcount().astype(np.int32).to_numpy(),
            "role": df["event_type"].to_numpy(),
            "text": df["props"].to_numpy(),
            "tool": tool,
            "ts": df["ts"].to_numpy(),
        }
    ).reset_index(drop=True)


def stream_slices(
    turns: pd.DataFrame, seed: int, n_slices: int
) -> list[pd.DataFrame]:
    """Split transcript turns into ``n_slices`` arrival slices by each
    conversation's turn fraction (slice i holds the turns whose
    ``turn_idx / len(conv)`` falls in ``[i/n, (i+1)/n)``), so every
    conversation's turns arrive in order across slices. Row order inside
    a slice is shuffled by seed: within a micro-batch arrival order is
    arbitrary."""
    rng = np.random.default_rng(seed + 7919)
    size = turns.groupby("conv_id")["turn_idx"].transform("size")
    which = (turns["turn_idx"] * n_slices // size).to_numpy()
    out = []
    for i in range(n_slices):
        part = turns[which == i]
        out.append(part.iloc[rng.permutation(len(part))].reset_index(drop=True))
    return out


def transcript_schema_table(df: pd.DataFrame) -> pa.Table:
    """Arrow table with the streaming transcript schema (int turn_idx,
    microsecond timestamps)."""
    return pa.table(
        {
            "conv_id": pa.array(df["conv_id"], pa.string()),
            "turn_idx": pa.array(df["turn_idx"], pa.int32()),
            "role": pa.array(df["role"], pa.string()),
            "text": pa.array(df["text"], pa.string()),
            "tool": pa.array(df["tool"], pa.string()),
            "ts": pa.array(pd.to_datetime(df["ts"]).astype("datetime64[us]"),
                           pa.timestamp("us", tz="UTC")),
        }
    )

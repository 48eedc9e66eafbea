"""Streaming sessionization — the live twin of operators/sessions.py.

Consumes raw (url, ts) event rows and emits each CLOSED session exactly once
(url, session_id, start_ts, end_ts, n_events, duration_s), in the micro-batch
whose first event falls more than ``gap_s`` seconds after the session's last
instant.  Alerting/e-commerce shape: a session row is final the moment it is
emitted, so downstream aggregation never needs retractions.  Spark's built-in
``session_window`` aggregation expresses the same grouping, but its windows
only finalize via watermark delay and carry struct-typed keys; this operator
matches the batch engine's integer session ids and its duplicate-instant
collapse rule bit-for-bit, so stream output == batch output minus each url's
trailing OPEN session (tested by feeding identical events through both).

State, replay and restart rules are streaming/keyed.py's (state: last
instant, open-session id, its start, its event count).  Duplicate instants
that should count must arrive in the same micro-batch, which holds for any
upstream that finalizes per-instant rows before appending them.  The
trailing session is NOT emitted until a later event closes it; the gap rule
is strict (> gap_s starts a new session), identical to batch.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .keyed import carry_by_key

SESSION_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("session_id", LongType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
        StructField("n_events", LongType()),
        StructField("duration_s", DoubleType()),
    ]
)

EVENT_SCHEMA = StructType(
    [StructField("url", StringType()), StructField("ts", TimestampType())]
)


def stream_session_monitor(event_rows: DataFrame, gap_s: int = 7200) -> DataFrame:
    """Stateful streaming sessionizer over raw event rows.

    Returns an append-mode stream with one row per CLOSED session, emitted
    exactly once (per-url open-session state survives restarts via the query
    checkpoint).  ``session_id`` is 1-based per url in time order, matching
    the batch ``session_summary``.
    """
    gap_us = int(gap_s) * 1_000_000

    def step(url, ts, pdf, state):
        t, c = np.unique(ts, return_counts=True)
        heads = np.r_[0, np.flatnonzero(np.diff(t) > gap_us) + 1]
        t0, t1, n = t[heads], t[np.r_[heads[1:], len(t)] - 1], np.add.reduceat(c, heads)
        first_id = 1
        if state is not None:
            last, first_id, start, count = state
            if t[0] - last > gap_us:  # the open session is closed
                t0, t1, n = np.r_[start, t0], np.r_[last, t1], np.r_[count, n]
            else:  # the first segment extends the open session
                t0[0], n[0] = start, n[0] + count
        ids = first_id + np.arange(len(t0))
        # every session but the last is closed; the last stays open
        return (t1[-1], ids[-1], t0[-1], n[-1]), pd.DataFrame(
            {
                "url": url,
                "session_id": ids[:-1],
                "start_ts": t0[:-1].astype("datetime64[us]"),
                "end_ts": t1[:-1].astype("datetime64[us]"),
                "n_events": n[:-1],
                "duration_s": (t1[:-1] - t0[:-1]) / 1e6,
            }
        )

    return carry_by_key(
        event_rows, "url", "ts", ["last_us", "seq", "start_us", "n"], step, SESSION_SCHEMA
    )

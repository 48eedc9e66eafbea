"""Streaming crawl-outage monitor — the live twin of
operators/diagnostics.detect_outages.

Consumes finalized (url, ts, cnt) bucket rows (the append-mode output of
stream_bucketize, or that table re-streamed) and emits one gap event
(url, gap_start, gap_end, missing) per maximal run of missing grid slots,
exactly once, as soon as the bucket closing the gap arrives.  Alerting-shaped
output: a pipeline can sink it straight to a notification topic instead of
re-scanning the bucket table every monitor pass.

State, replay and restart rules are streaming/keyed.py's (state: the last
observed grid slot).  Semantics mirror the batch operator bit-for-bit so the
two are interchangeable (tested by feeding identical buckets through both):

- leading absence is not a gap (the per-url grid starts at its first
  observed bucket, matching gap-fill's [min, max] convention);
- a trailing/ongoing outage is NOT emitted until a bucket closes it;
- misaligned timestamps raise loudly (the batch kernel's rule) instead of
  floor-dividing into wrong slots.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.gapfill import STEP_SECONDS
from .keyed import carry_by_key

OUTAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("gap_start", TimestampType()),
        StructField("gap_end", TimestampType()),
        StructField("missing", LongType()),
    ]
)


def stream_outage_monitor(bucket_rows: DataFrame, min_missing: int = 1) -> DataFrame:
    """Stateful streaming gap detector over finalized hourly bucket rows.

    Returns an append-mode stream of (url, gap_start, gap_end, missing):
    one row per completed run of >= min_missing empty grid slots between two
    observed buckets, emitted in the micro-batch that observes the gap's
    closing bucket and never again (per-url last-slot state survives
    restarts via the query checkpoint).
    """
    step_s = STEP_SECONDS["hour"]
    step_us = step_s * 1_000_000

    def step(url, ts, pdf, state):
        # the state's last slot leads the sequence, so a gap spanning
        # micro-batches / restarts is measured from the previous bucket
        seq = np.unique(ts if state is None else np.r_[state[0], ts])
        if ((seq - seq[0]) % step_us).any():
            raise ValueError(
                f"bucket timestamps for url={url!r} are not aligned to the "
                f"{step_s}s grid (granularity mismatch between the "
                f"bucket stream and the monitor step)"
            )
        missing = np.diff(seq) // step_us - 1
        hit = missing >= int(min_missing)
        prev, nxt = seq[:-1][hit], seq[1:][hit]
        return (seq[-1],), pd.DataFrame(
            {
                "url": url,
                "gap_start": (prev + step_us).astype("datetime64[us]"),
                "gap_end": (nxt - step_us).astype("datetime64[us]"),
                "missing": missing[hit],
            }
        )

    return carry_by_key(bucket_rows, "url", "ts", ["last_us"], step, OUTAGE_SCHEMA)

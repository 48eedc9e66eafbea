"""Gap-based sessionization of irregular event streams.

The web-analytics primitive (Google Analytics sessions, Snowplow, Spark's own
``session_window``): consecutive events of a key belong to one session while
the gap between instants stays within ``gap_s``; a longer silence starts a new
session.  Complements ``diagnostics.detect_outages`` (which reports the
SILENCES on the bucketized grid) by reporting the ACTIVITY runs on the raw
irregular stream.

Determinism: duplicate (key, ts) instants are collapsed first (their row
count kept as a weight).  Session-start flags then depend only on the
distinct-instant sequence, so the lag/running-sum windows are reproducible by
any engine — with duplicates left in, a session boundary landing on a
duplicated timestamp would be assigned to whichever duplicate a given engine
happens to order first.

Shape: one hash aggregate (the collapse), then a lag window and a running-sum
window sharing one key-partitioned sort, then a final (key, session) hash
aggregate whose required clustering the key partitioning already satisfies —
no joins, no Python, no dense grid.  Spark's built-in ``session_window``
aggregation expresses the same grouping, but assigns struct-typed windows
rather than stable integer ids and cannot carry the duplicate-collapse
weights through; the window formulation also mirrors the SQL any oracle can
run.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def session_summary(
    events: DataFrame,
    gap_s: int = 7200,
) -> DataFrame:
    """One row per (url, session) of a (url, ts) event table:
    ``session_id`` (1-based, in time order), ``start_ts``/``end_ts``
    (first/last instant), ``n_events`` (raw rows, duplicates included),
    ``duration_s``.

    A session ends when the next distinct instant is more than ``gap_s``
    seconds after the previous one (strict >, so a grid-step spacing equal to
    ``gap_s`` stays inside the session).
    """
    d = events.groupBy(F.col("url"), F.col("ts").alias("_t")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    w = Window.partitionBy("url").orderBy("_t")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def _epoch(c):
        # TIMESTAMP_NTZ-safe epoch hop (UTC session; keeps microseconds)
        return c.cast("timestamp").cast("double")

    gap = _epoch(F.col("_t")) - _epoch(F.lag("_t").over(w))
    flag = F.when(gap.isNull() | (gap > F.lit(float(gap_s))), F.lit(1)).otherwise(
        F.lit(0)
    )
    s = d.withColumn("_sid", F.sum(flag).over(run))
    return (
        s.groupBy(F.col("url"), F.col("_sid").alias("session_id"))
        .agg(
            F.min("_t").alias("start_ts"),
            F.max("_t").alias("end_ts"),
            F.sum("_n").alias("n_events"),
            (_epoch(F.max("_t")) - _epoch(F.min("_t"))).alias("duration_s"),
        )
        .select("url", "session_id", "start_ts", "end_ts", "n_events", "duration_s")
    )

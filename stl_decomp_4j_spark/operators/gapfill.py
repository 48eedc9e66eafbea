"""Gap-fill irregular per-key buckets to a dense fixed grid.

The STL core requires equally spaced data with no missing values
(reference README.md:8); this operator makes that assumption true before the
decomposition UDF.  The dense grid is built per key from its own [min, max]
bucket range with sequence+explode (distributed — no driver-side expansion),
then left-joined back to the observed buckets with missing values filled with
0 (no crawls observed that hour).  ``dense_grid`` is the same rule for one
url's buckets in NumPy; the fused STL kernel and the streaming gap-fill both
call it.

Scale notes: grid size per url is bounded by the time range (e.g. 90 days of
hourly grid = 2160 rows) regardless of raw crawl count, so per-group state in
the downstream pandas UDF stays small.  The join is a key+ts equi-join
between two url-partitioned children; AQE handles post-shuffle coalescing.
"""
from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

STEP_SECONDS = {"hour": 3600, "day": 86400, "week": 604800}


def dense_grid(ts, cnt, step: int, fill_value: float = 0.0, t0=None):
    """One url's gap-fill in NumPy: the in-process twin of ``gapfill``.

    ``ts`` holds the url's bucket starts as int64 epoch times and ``cnt``
    their observed values; ``step`` is in the unit of ``ts``.  Returns
    ``(grid, y)``: the ``step``-spaced grid from ``t0`` (default: the first
    bucket; never after it) to the last bucket, and y = cnt where observed
    else ``fill_value``.  A bucket off the grid raises instead of landing,
    by floor division, in a wrong or shared slot."""
    if t0 is None:
        t0 = ts.min()
    off = ts - t0
    if (off % step).any():
        raise ValueError(
            "bucket timestamps are not aligned to the gap-fill grid "
            "(granularity mismatch between bucketize and the gap-fill step)"
        )
    grid = np.arange(t0, ts.max() + 1, step)
    y = np.full(len(grid), float(fill_value))
    y[off // step] = cnt
    return grid, y


def _dense_join(buckets: DataFrame, granularity: str) -> DataFrame:
    """Every url's dense [min ts, max ts] grid left-joined to its observed
    buckets: (url, ts, cnt), cnt null where nothing was observed.

    The bounds table (one row per url) is explicitly repartitioned by url
    BEFORE the explode: the grid fan-out multiplies rows ~grid-length-fold,
    and AQE would otherwise coalesce the tiny bounds shuffle into one
    partition by byte size — serializing the fan-out, the join, and the
    downstream stage onto one core.  A numbered repartition is exempt from
    AQE coalescing."""
    partitions = buckets.sparkSession.sparkContext.defaultParallelism * 4
    bounds = buckets.groupBy("url").agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    step = F.expr(f"interval {STEP_SECONDS[granularity]} seconds")
    grid = bounds.repartition(partitions, "url").select(
        "url", F.explode(F.sequence("t0", "t1", step)).alias("ts")
    )
    return grid.join(buckets, ["url", "ts"], "left")


def gapfill(buckets: DataFrame, granularity: str = "hour") -> DataFrame:
    """Dense (url, ts, value) grid; value = cnt where observed else 0."""
    return _dense_join(buckets, granularity).select(
        "url",
        "ts",
        F.coalesce(F.col("cnt").cast("double"), F.lit(0.0)).alias("value"),
    )


def gapfill_linear(buckets: DataFrame, granularity: str = "hour") -> DataFrame:
    """Dense (url, ts, value) grid with LINEAR interpolation across gaps.

    zero-fill (``gapfill``) is right for crawl COUNTS ("no crawls observed
    that hour" is a real zero); for sampled gauges (a tier's trend column, a
    sensor level) a missing hour means "not sampled" and the standard fill is
    the line between the neighboring observations (TimescaleDB's
    ``interpolate()``).  Grid rows before the first / after the last
    observation of a url don't exist (the grid spans the url's own observed
    [min, max]), so every gap has both endpoints.

    Plan shape: the same pinned sequence+explode grid and join as
    ``gapfill``, then ONE window exchange: the backward last-observation
    carry and the forward next-observation carry share (partitionBy url,
    orderBy ts), so Catalyst evaluates both frames in a single sort — no
    second shuffle, no self-join.  Interpolation itself is codegen
    arithmetic.
    """
    sparse = _dense_join(buckets, granularity).select("url", "ts", F.col("cnt").cast("double").alias("_obs"))
    back = (
        Window.partitionBy("url")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("url")
        .orderBy("ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col("_obs").isNotNull(), F.col("ts"))
    carried = sparse.select(
        "url",
        "ts",
        "_obs",
        F.last("_obs", ignorenulls=True).over(back).alias("_pv"),
        F.last(obs_ts, ignorenulls=True).over(back).alias("_pt"),
        F.first("_obs", ignorenulls=True).over(fwd).alias("_nv"),
        F.first(obs_ts, ignorenulls=True).over(fwd).alias("_nt"),
    )
    # NTZ-safe microsecond epochs (same cast-hop convention as readside.py):
    # unix_timestamp would truncate to seconds and diverge on sub-second grids.
    def _epoch(c):
        return F.col(c).cast("timestamp").cast("double")

    frac = (_epoch("ts") - _epoch("_pt")) / (_epoch("_nt") - _epoch("_pt"))
    interp = F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac
    return carried.select(
        "url",
        "ts",
        F.coalesce("_obs", interp).alias("value"),
        F.col("_obs").isNotNull().alias("observed"),
    )

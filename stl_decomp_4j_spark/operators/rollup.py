"""Continuous-aggregate retention tiers (1h / 1d / 1w).

Tier N+1 is derived from tier N, never from raw data: sums and counts are
associative, so day-from-hour and week-from-day aggregation is exact AND
cheap (each tier's shuffle input is the previous tier's already-reduced
output — the 1w rollup reads ~1/24th of what the 1d rollup read).  Double
sums are associative only up to rounding, so ``rollup_tier``, which every
tier derivation calls, sums each group in ts order: a tier is a function of
its input rows, and a stored tier equals its re-derivation exactly.

Averages are stored as sum/cnt-derived columns so re-aggregation stays
exact; min/max compose trivially.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

COMPONENTS = ["value", "trend", "seasonal", "residual"]
# the store's retention tiers, finest first, and the grain each one's rows
# bucket: every module that names a tier reads this table
TIERS = {"1h": "hour", "1d": "day", "1w": "week"}
PERCENTILES = (0.5, 0.95, 0.99)  # percentile_rollup: columns p50, p95, p99


def hourly_tier(decomposed: DataFrame) -> DataFrame:
    """Tier 1h: the decomposed hourly grid itself, stored COMPACT — each
    component once plus cnt == 1.  At the finest tier sum == min == max ==
    the grid point, so the sum_/min_/max_ triplet would triple the bytes of
    the engine's largest write (and at 10^12-doc scale its largest table) for
    zero information; rollup_tier reconstitutes the triplet when deriving the
    next tier."""
    return decomposed.select(
        "url", "ts", *COMPONENTS, F.lit(1).cast("long").alias("cnt")
    )


def rollup_tier(tier: DataFrame, granularity: str) -> DataFrame:
    """Aggregate a tier into the next coarser granularity ('day' or 'week').

    Accepts either the compact 1h schema (component columns, from which
    sum/min/max all derive) or the full sum_/min_/max_ schema of coarser
    tiers; output is always the full schema.  A frame carrying BOTH layouts
    is ambiguous (which columns are authoritative?) and is rejected rather
    than silently aggregating the wrong ones.

    The url shuffle and (url, ts) sort put each group in one partition, in
    ts order, so its sums do not depend on how the input was split.  Spark
    keeps a sort under a double ``sum``, and the partial and final aggregate
    run in the sorted stage (``test_plans.py`` pins this plan)."""
    compact = COMPONENTS[0] in tier.columns
    if compact and f"sum_{COMPONENTS[0]}" in tier.columns:
        raise ValueError(
            f"ambiguous tier schema: both '{COMPONENTS[0]}' and 'sum_{COMPONENTS[0]}' present"
        )
    aggs = []
    for c in COMPONENTS:
        src_sum, src_min, src_max = (
            (c, c, c) if compact else (f"sum_{c}", f"min_{c}", f"max_{c}")
        )
        aggs += [
            F.sum(src_sum).alias(f"sum_{c}"),
            F.min(src_min).alias(f"min_{c}"),
            F.max(src_max).alias(f"max_{c}"),
        ]
    aggs.append(F.sum("cnt").alias("cnt"))
    return (
        tier.repartition("url").sortWithinPartitions("url", "ts")
        .groupBy("url", F.date_trunc(granularity, "ts").alias("ts"))
        .agg(*aggs)
    )


def percentile_rollup(
    points: DataFrame,
    granularity: str = "day",
) -> DataFrame:
    """Exact interpolated percentiles per (url, bucket) — the latency-style
    rollup sums/counts can't derive.

    Uses Spark's exact ``percentile`` (linear interpolation, the SQL-standard
    PERCENTILE_CONT definition DuckDB's quantile_cont shares), NOT
    approx_percentile: percentiles are only safe as a rollup when the
    per-group row count is bounded, and tier-from-tier groups are (a day
    bucket holds <= 24 hourly rows, a week <= 7 daily rows), so the exact
    aggregate's per-group buffer is O(24) — no sketch needed, and the result
    is reproducible bit-for-bit by any engine.  One partial+final hash
    aggregate, no window, no Python.
    """
    aggs = [
        F.percentile("value", F.lit(p)).alias(f"p{str(p)[2:].ljust(2, '0')}")
        for p in PERCENTILES
    ]
    return points.groupBy(
        "url", F.date_trunc(granularity, "ts").alias("ts")
    ).agg(*aggs, F.count(F.lit(1)).alias("cnt"))


def ohlc_rollup(
    points: DataFrame,
    granularity: str = "day",
) -> DataFrame:
    """Open-high-low-close per (url, bucket) — TimescaleDB ``ohlc()`` /
    ``candlestick_agg``: open/close are the earliest/latest sample's value
    (deterministic when instants are unique; collapse duplicates upstream),
    high/low are plain max/min.

    Each sample is a one-sample candle (open = high = low = close = value,
    cnt = 1) rolled up by ``ohlc_from_tier``: one partial+final hash
    aggregate, no window, no sort, no join.
    """
    v = F.col("value")
    candles = points.select(
        "url", "ts", *(v.alias(c) for c in ("open", "high", "low", "close")),
        F.lit(1).cast("long").alias("cnt"),
    )
    return ohlc_from_tier(candles, granularity)


def ohlc_from_tier(
    ohlc_tier: DataFrame,
    granularity: str = "week",
) -> DataFrame:
    """Derive a coarser OHLC tier from a finer one — exactly, never touching
    raw data (the continuous-aggregate property the sum/min/max tiers rely
    on, extended to candlesticks): open = open of the earliest fine bucket,
    close = close of the latest, high/low = extrema of extrema, cnt = sum.
    The coarse shuffle reads the fine tier's already-reduced rows, so a
    weekly candle over a billion-event week aggregates 7 rows.

    Composition is exact because each fine bucket's open/close are
    themselves the boundary samples of a disjoint, totally-ordered time
    slice (`ohlc_weekly` oracle proves tier-from-tier == from-raw).
    """
    b = ohlc_tier.withColumn("_b", F.date_trunc(granularity, "ts"))
    out = b.groupBy("url", "_b").agg(
        F.min_by("open", "ts").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "ts").alias("close"),
        F.sum("cnt").alias("cnt"),
    )
    return out.withColumnRenamed("_b", "ts").select(
        "url", "ts", "open", "high", "low", "close", "cnt"
    )


def stats_rollup(
    points: DataFrame,
    granularity: str = "day",
) -> DataFrame:
    """Per-(url, bucket) descriptive + linear-trend statistics — TimescaleDB
    ``stats_agg`` (two-variable form): mean and sample-stddev of the value
    plus the OLS slope / intercept / r² of value against seconds-within-
    bucket — the per-bucket trend direction dashboards plot.

    Everything derives from moment SUMS (n, Σx, Σy, Σxx, Σxy, Σyy) computed
    by built-in codegen aggregates, with x RELATIVE to the bucket start:

    - relative x keeps Σxx small (an absolute epoch² is ~3e18 and the
      n·Σxx − (Σx)² difference would cancel catastrophically); for grid
      series x and y are integer-valued, so the moments are exact in float64
      and any engine reproduces slope/intercept/r² bit-for-bit — the final
      formulas are single divisions, not engine-specific streaming updates.
    - single-sample buckets: stddev/slope/intercept/r² are NULL (n−1 = 0 /
      zero x-variance); constant-y buckets: r² NULL (zero y-variance).

    One partial+final hash aggregate; no window, no Python.
    """
    b = points.withColumn("_b", F.date_trunc(granularity, "ts"))
    # TIMESTAMP_NTZ-safe epoch hop (UTC session; keeps sub-second precision)
    x = F.col("ts").cast("timestamp").cast("double") - F.col("_b").cast(
        "timestamp"
    ).cast("double")
    y = F.col("value").cast("double")
    b = b.withColumn("_x", x).withColumn("_y", y)
    g = b.groupBy("url", "_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n").cast("double")
    den_x = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    den_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    slope = F.when(den_x != 0, num / den_x)
    var_samp = (F.col("_syy") - F.col("_sy") * F.col("_sy") / n) / (n - 1)
    return g.select(
        "url",
        F.col("_b").alias("ts"),
        (F.col("_sy") / n).alias("avg_value"),
        F.when(F.col("n") > 1, F.sqrt(F.greatest(var_samp, F.lit(0.0)))).alias(
            "stddev_value"
        ),
        slope.alias("slope_per_s"),
        F.when(den_x != 0, (F.col("_sy") - slope * F.col("_sx")) / n).alias(
            "intercept"
        ),
        F.when(
            (den_x != 0) & (den_y != 0), num * num / (den_x * den_y)
        ).alias("r2"),
        "n",
    )


def histogram_rollup(
    points: DataFrame,
    lo: float,
    hi: float,
    bins: int = 10,
    granularity: str = "day",
) -> DataFrame:
    """Fixed-edge histogram per (url, bucket) — the heatmap/distribution
    rollup (TimescaleDB/Grafana heatmap panels; Prometheus classic-histogram
    buckets).  Bin edges are EXPLICIT (``lo``/``hi``/``bins``) rather than
    data-derived: at 100 TB a data-derived range would need an extra global
    pass and make bins non-comparable across refreshes; fixed edges make the
    rollup a pure per-row map + one partial+final hash aggregate, and tiles
    from different runs line up.

    ``bin = clamp(floor((v - lo) / w), 0, bins-1)`` with ``w = (hi-lo)/bins``
    — out-of-range values clamp into the edge bins (never dropped), and the
    float arithmetic is a single divide+floor any engine reproduces exactly.
    Only non-empty bins are emitted (sparse rows, not a dense array column).

    Returns (url, ts, bin, bin_lo, bin_hi, cnt).
    """
    if bins < 1 or not hi > lo:
        raise ValueError(f"need hi > lo and bins >= 1, got [{lo}, {hi}) x {bins}")
    w = (float(hi) - float(lo)) / int(bins)
    b = points.withColumn("_b", F.date_trunc(granularity, "ts"))
    bin_col = F.least(
        F.greatest(
            F.floor((F.col("value").cast("double") - F.lit(float(lo))) / F.lit(w)),
            F.lit(0).cast("long"),
        ),
        F.lit(int(bins) - 1).cast("long"),
    )
    out = (
        b.withColumn("_bin", bin_col)
        .groupBy("url", "_b", "_bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return out.select(
        "url",
        F.col("_b").alias("ts"),
        F.col("_bin").alias("bin"),
        (F.lit(float(lo)) + F.col("_bin") * F.lit(w)).alias("bin_lo"),
        (F.lit(float(lo)) + (F.col("_bin") + 1) * F.lit(w)).alias("bin_hi"),
        "cnt",
    )


def top_k_keys(
    points: DataFrame,
    k: int = 3,
    granularity: str = "day",
) -> DataFrame:
    """Exact per-bucket heavy hitters: the top-``k`` urls of each time bucket
    by row count, with a deterministic total order (count desc, then url asc
    — so any engine produces identical ranks).

    Exact, not a sketch: the per-bucket candidate set is the DISTINCT keys,
    already reduced by the partial+final count aggregate before the rank
    window sees it — the window's input is |keys x buckets| rows, not raw
    events, so a billion-event day with 10^6 urls ranks 10^6 reduced rows.

    Returns (ts, rank, url, cnt); one hash aggregate + one window.
    """
    b = points.withColumn("_b", F.date_trunc(granularity, "ts"))
    counts = b.groupBy("_b", "url").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("_b").orderBy(F.col("cnt").desc(), F.col("url").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(F.col("_b").alias("ts"), "rank", "url", "cnt")
    )


def build_tiers(decomposed: DataFrame) -> dict[str, DataFrame]:
    """The ``TIERS`` chain of continuous aggregates, each from the previous."""
    tiers: dict[str, DataFrame] = {}
    tier = hourly_tier(decomposed)
    for name, grain in TIERS.items():
        if tiers:
            tier = rollup_tier(tier, grain)
        tiers[name] = tier
    return tiers

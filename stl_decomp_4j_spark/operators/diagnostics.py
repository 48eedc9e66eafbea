"""Series diagnostics over decomposed / bucketized crawl series.

Three independent, codegen-only diagnostics a tier-rollup operator runs
routinely at scale:

- ``seasonal_strength``: Hyndman's Fs/Ft decomposition-strength statistics
  (FPP3 §4.3) — "how much of the series does the seasonal (trend) component
  actually explain?"  Computed from the same residual-variance machinery the
  reference exposes in StlFitStats
  (stl-decomp-4j/src/main/java/.../StlFitStats.java:60-90: trend/seasonal/
  residual mean+variance over the decomposition arrays); one partial+final
  hash agg per url.
- ``cusum_changepoints``: standardized cumulative-sum of the STL residual
  per url (Page's CUSUM).  A level shift the trend smoother lagged behind
  shows up as a drifting residual mean; the max-|CUSUM| point is the
  change-point candidate.  One broadcast of per-url moments onto an ordered
  window cumsum — sequential left-to-right per url, so the value is
  engine-order-deterministic.
- ``detect_outages`` / ``outage_summary``: crawl-outage detection on the
  *sparse* bucketized series (pre-gap-fill): a lag-window diff on the bucket
  timestamps finds runs of missing buckets without materializing the dense
  grid — O(observed buckets), not O(grid), which at 100 TB is the difference
  between scanning what exists and generating what doesn't.

Scale shape: everything here is scans + hash aggs + url-partitioned windows
(the same per-url clustering every downstream stage already uses); no
Python, no joins against the big table except broadcast of per-url one-row
state.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .gapfill import STEP_SECONDS


def seasonal_strength(decomposed: DataFrame) -> DataFrame:
    """Per-url decomposition strength: (url, f_seasonal, f_trend, var_resid, n).

    f_seasonal = max(0, 1 - Var(R) / Var(S + R))
    f_trend    = max(0, 1 - Var(R) / Var(T + R))

    Values near 1 mean the component explains most of the non-trend
    (non-seasonal) variation; near 0 mean it explains nothing.  Input needs
    (url, trend, seasonal, residual).  Sample variance (n-1 denominator) on
    both sides of the oracle.  A zero (or single-row null) denominator means
    the component+residual has no variation at all — the ratio is undefined
    and the strength clamps to 0: try_divide yields NULL there (ANSI mode
    would otherwise throw) and Spark's null-skipping greatest() turns it
    into the 0.0 clamp.
    """
    r = F.col("residual")
    return decomposed.groupBy("url").agg(
        F.greatest(
            F.lit(0.0),
            F.lit(1.0) - F.try_divide(F.var_samp(r), F.var_samp(F.col("seasonal") + r)),
        ).alias("f_seasonal"),
        F.greatest(
            F.lit(0.0),
            F.lit(1.0) - F.try_divide(F.var_samp(r), F.var_samp(F.col("trend") + r)),
        ).alias("f_trend"),
        F.var_samp(r).alias("var_resid"),
        F.count(F.lit(1)).alias("n"),
    )


def cusum_changepoints(decomposed: DataFrame, k: float = 3.0) -> DataFrame:
    """Per-url change-point candidate via residual CUSUM.

    Standardizes the residual by its per-url moments, cumulative-sums it in
    ts order, and returns ONE row per url — the earliest point achieving the
    maximum |CUSUM| — with the statistic and whether it exceeds the
    k*sqrt(n) decision band (Page's CUSUM with h = k*sigma in standardized
    units scales with sqrt(n) under H0's random-walk null).

    Returns (url, ts, cusum, threshold, exceeds).  Always n_urls rows, so
    the operator doubles as a monitoring query that never goes silent.
    """
    stats = decomposed.groupBy("url").agg(
        F.avg("residual").alias("_mu"),
        F.stddev_samp("residual").alias("_sd"),
        F.count(F.lit(1)).alias("_n"),
    )
    cum = Window.partitionBy("url").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        decomposed.join(F.broadcast(stats), "url")
        .withColumn("cusum", F.sum((F.col("residual") - F.col("_mu")) / F.col("_sd")).over(cum))
        .withColumn("threshold", F.lit(float(k)) * F.sqrt(F.col("_n")))
    )
    pick = Window.partitionBy("url").orderBy(F.abs(F.col("cusum")).desc(), F.col("ts").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            "url",
            "ts",
            "cusum",
            "threshold",
            (F.abs(F.col("cusum")) > F.col("threshold")).alias("exceeds"),
        )
    )


def detect_outages(
    buckets: DataFrame, granularity: str = "hour", min_missing: int = 1
) -> DataFrame:
    """Gaps in the sparse bucketized series: (url, gap_start, gap_end, missing).

    A gap is a maximal run of >= min_missing grid slots with no observed
    bucket between two observed buckets (leading/trailing absence is not a
    gap — the per-url grid is defined by its own [min, max], matching
    gapfill).  Runs on the *sparse* buckets via a lag window — never builds
    the dense grid.
    """
    step = STEP_SECONDS[granularity]
    w = Window.partitionBy("url").orderBy("ts")
    lagged = buckets.withColumn("_prev", F.lag("ts").over(w)).filter(F.col("_prev").isNotNull())
    missing = ((F.col("ts").cast("long") - F.col("_prev").cast("long")) / step - 1).cast("long")
    return (
        lagged.withColumn("missing", missing)
        .filter(F.col("missing") >= int(min_missing))
        .select(
            "url",
            (F.col("_prev") + F.expr(f"interval {step} seconds")).alias("gap_start"),
            (F.col("ts") - F.expr(f"interval {step} seconds")).alias("gap_end"),
            "missing",
        )
    )


def outage_summary(buckets: DataFrame, granularity: str = "hour") -> DataFrame:
    """Per-url outage rollup of ``detect_outages``: (url, n_gaps,
    missing_total, max_missing, worst_gap_start) — one row per url even when
    the series is gapless (zeros / null), so the monitoring query never goes
    silent.  Integer arithmetic end-to-end: engine-exact, no float tolerance
    needed.

    worst_gap_start = start of the EARLIEST longest gap (ties broken by
    time, deterministically).
    """
    agg = detect_outages(buckets, granularity).groupBy("url").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("missing").alias("missing_total"),
        F.max("missing").alias("max_missing"),
        F.min_by(
            "gap_start",
            F.struct((-F.col("missing")).alias("neg_missing"), F.col("gap_start").alias("gs")),
        ).alias("worst_gap_start"),
    )
    urls = buckets.select("url").distinct()
    return urls.join(agg, "url", "left").select(
        "url",
        F.coalesce("n_gaps", F.lit(0)).alias("n_gaps"),
        F.coalesce("missing_total", F.lit(0)).alias("missing_total"),
        F.coalesce("max_missing", F.lit(0)).alias("max_missing"),
        "worst_gap_start",
    )

"""STL-based forecasting over decomposed series.

The classic operational use of an STL decomposition (Cleveland et al. 1990,
the model behind stl-decomp-4j's API surface,
stl-decomp-4j/src/main/java/.../SeasonalTrendLoess.java:1-60) is
"decompose, then extend": the seasonal component repeats its last full
cycle, and the trend is extended linearly from its endpoint.  This module
implements exactly that rule, deterministically, so an independent SQL
oracle can recompute it bit-for-bit from the decomposition columns:

  - ``slope   = (trend[t_last] - trend[t_last - w*step]) / w``
    (endpoint difference over the last ``trend_window`` steps — a two-point
    slope, NOT a least-squares fit, so there is no reduction whose float
    op-order could differ between engines; a series shorter than ``w+1``
    steps falls back to slope 0)
  - ``trend_fc(k)    = trend[t_last] + k * slope``
  - ``seasonal_fc(k) = seasonal[t_last - (period-1 - (k-1) % period)*step]``
    (the same phase from the last observed cycle)
  - ``forecast(k)    = trend_fc(k) + seasonal_fc(k)``            k = 1..horizon

Scale shape (the input is a decomposed tier table, e.g. the materialized 1h
tier): two column-pruned scans of the big table (one max-ts aggregation, one
tail filter against the broadcast per-url max), after which EVERYTHING is
per-url-tiny — the tail is ``max(trend_window, period)+1`` rows per url, the
state one row per url, and the future grid ``horizon`` rows per url — so the
slope/phase joins are broadcast hash joins and the whole forecast costs no
big-table shuffle and no Python.  If the input is an *unmaterialized*
decomposition (a live STL MapInArrow), persist it first or pass
``cache_handle`` — otherwise the STL kernel recomputes once per scan.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.storagelevel import StorageLevel

from .gapfill import STEP_SECONDS

STEP_S = STEP_SECONDS["hour"]


def stl_forecast(
    decomposed: DataFrame,
    period: int,
    horizon: int,
    trend_window: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """Forecast ``horizon`` future steps per url from a decomposed series.

    ``decomposed`` needs (url, ts, trend, seasonal) on a dense hourly grid
    (the shape every STL operator here emits).  Returns one row per
    (url, k): url, ts (future), k, trend_fc, seasonal_fc, forecast.

    A url whose series is shorter than one full period only gets forecasts
    for the phases it has observed (inner join on phase); shorter than
    ``trend_window+1`` steps degrades to a flat trend (slope 0).

    If ``cache_handle`` is a list, the input is persisted (lazily) and the
    handle appended so the caller can unpersist after materializing — the
    operator reads its input twice.
    """
    if trend_window is None:
        trend_window = period
    w = int(trend_window)
    if w < 1 or period < 1 or horizon < 1:
        raise ValueError("period, horizon and trend_window must be >= 1")

    if cache_handle is not None:
        decomposed = decomposed.persist(StorageLevel.MEMORY_AND_DISK)
        cache_handle.append(decomposed)

    last = decomposed.groupBy("url").agg(F.max("ts").alias("t_last"))

    tail_span = max(w, period)
    age = (
        (F.unix_timestamp("t_last") - F.unix_timestamp("ts")) / F.lit(STEP_S)
    ).cast("long")
    tail = (
        decomposed.select("url", "ts", "trend", "seasonal")
        .join(F.broadcast(last), "url")
        .withColumn("age", age)
        .filter(F.col("age") <= tail_span)
    )

    # one row per url: trend endpoint + two-point slope (flat if the series
    # is too short to reach the anchor row)
    state = (
        tail.groupBy("url", "t_last")
        .agg(
            F.max(F.when(F.col("age") == 0, F.col("trend"))).alias("trend_last"),
            F.max(F.when(F.col("age") == w, F.col("trend"))).alias("trend_anchor"),
        )
        .withColumn(
            "slope",
            (
                F.col("trend_last")
                - F.coalesce(F.col("trend_anchor"), F.col("trend_last"))
            )
            / F.lit(float(w)),
        )
    )

    # last observed cycle, keyed by phase: period rows per url (url renamed
    # so the grid-season join — two frames sharing the `tail` lineage — has
    # no ambiguous column to resolve)
    season = tail.filter(F.col("age") < period).select(
        F.col("url").alias("s_url"),
        (F.lit(period - 1) - F.col("age")).alias("phase"),
        F.col("seasonal").alias("seasonal_fc"),
    )

    grid = state.select(
        "url",
        "t_last",
        "trend_last",
        "slope",
        F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("k"),
    )
    out = (
        grid.join(
            F.broadcast(season),
            on=[
                F.col("url") == F.col("s_url"),
                ((F.col("k") - F.lit(1)) % F.lit(period)) == F.col("phase"),
            ],
        )
        .drop("s_url")
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.unix_timestamp("t_last") + F.col("k").cast("long") * F.lit(STEP_S)
            ),
        )
        .withColumn(
            "trend_fc",
            F.col("trend_last") + F.col("k").cast("double") * F.col("slope"),
        )
        .withColumn("forecast", F.col("trend_fc") + F.col("seasonal_fc"))
    )
    return out.select("url", "ts", "k", "trend_fc", "seasonal_fc", "forecast")


def forecast_backtest(
    forecast: DataFrame,
    actuals: DataFrame,
    insample: DataFrame,
    period: int,
) -> DataFrame:
    """Holdout accuracy of a forecast: per-url MAE / RMSE / MASE.

    ``forecast`` is stl_forecast output (url, ts, forecast) built from a
    TRUNCATED series; ``actuals`` the held-out (url, ts, value) rows;
    ``insample`` the truncated (url, ts, value) series itself, from which the
    MASE scale is the in-sample seasonal-naive MAE (mean |y_t - y_{t-period}|
    — Hyndman & Koehler 2006), making MASE comparable across urls of any
    magnitude (mase < 1 beats repeating last season).

    Scale shape: the forecast side is horizon-rows-per-url tiny, so the
    error join broadcasts it against the big actuals table; the scale pass
    is one lag window + hash agg over the in-sample series; the final
    scale<->error join is per-url one-row-each.  No Python anywhere.
    """
    from pyspark.sql import Window

    err = (
        actuals.join(
            F.broadcast(forecast.select("url", "ts", "forecast")), ["url", "ts"]
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.abs(F.col("forecast") - F.col("value"))).alias("mae"),
            F.sqrt(
                F.avg(
                    (F.col("forecast") - F.col("value"))
                    * (F.col("forecast") - F.col("value"))
                )
            ).alias("rmse"),
        )
    )
    w = Window.partitionBy("url").orderBy("ts")
    scale = (
        insample.withColumn("_naive", F.lag("value", period).over(w))
        .groupBy("url")
        .agg(F.avg(F.abs(F.col("value") - F.col("_naive"))).alias("_scale"))
    )
    return err.join(F.broadcast(scale), "url").select(
        "url",
        "n",
        "mae",
        "rmse",
        F.when(F.col("_scale") > 0, F.col("mae") / F.col("_scale")).alias("mase"),
    )

"""STL decomposition as a grouped-map pandas UDF.

The whole reference algorithm is embarrassingly parallel across series
(SURVEY.md §3: control never crosses a thread boundary), so the entire
decomposition lifecycle runs inside one ``applyInPandas`` per url group and
Spark owns all distribution.  Rows arrive as Arrow batches -> contiguous
NumPy arrays, so the Java inner loops are NumPy vector ops with no model
impedance.

There is one per-url kernel, ``make_sparse_stl_fn``: it gap-fills the url's
observed buckets to its dense grid and decomposes it.  Every STL caller —
the pipeline, the driver queries, the tools — goes through it via
``stl_decompose_sparse_df``; a caller holding an already dense grid passes
it with the value column named ``cnt``.

Grouping/partitioning: the group key is the bare url (a url's series must
never split).  applyInPandas hash-partitions by the key, which distributes
url groups uniformly; per-group work is bounded by grid length (gap-filled),
not raw crawl count, so group-size skew is structurally bounded upstream.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from ..stl.core import stl_decompose
from ..stl.settings import build_stl_config
from .gapfill import STEP_SECONDS, dense_grid

STL_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("seasonal", DoubleType()),
        StructField("residual", DoubleType()),
        StructField("weight", DoubleType()),
    ]
)


def make_sparse_stl_fn(period: int, granularity: str, fill_value: float, **config_kwargs):
    """The per-url STL kernel: gap-fill + decomposition in one grouped map.

    Input rows are one url's observed buckets (url, ts, cnt).  The url's
    dense grid is built in-kernel by ``dense_grid`` (operators/gapfill.py),
    with the same semantics as the distributed ``gapfill()``: per-url
    [min ts, max ts] grid, observed cnt else fill_value.  Only observed rows
    cross the shuffle and the Arrow boundary (e.g. 400k rows in, 11.5M grid
    points computed in-kernel on the 8000-url/60-day workload).  A dense
    series is the case where every slot is observed, so it goes through the
    same kernel with its value column named ``cnt``.

    Series shorter than 2*period (the reference's validity floor) degrade to
    trend=value, seasonal=0."""
    step = STEP_SECONDS[granularity]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from ..plans.malloc import tune_malloc

        tune_malloc()  # once per worker process; no-op afterwards
        ts = pdf["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
        grid, y = dense_grid(ts, pdf["cnt"].to_numpy(dtype=float), step, fill_value)
        n = len(y)
        if n >= 2 * period:
            config = build_stl_config(n, period, **config_kwargs)
            d = stl_decompose(y, config)
            trend, seasonal, residual, weight = d.trend, d.seasonal, d.residual, d.weights
        else:
            trend, seasonal, residual, weight = y, 0.0 * y, 0.0 * y, 1.0 + 0.0 * y
        return pd.DataFrame(
            {
                "url": np.repeat(pdf["url"].iloc[0], n),
                "ts": grid.astype("datetime64[s]"),
                "value": y,
                "trend": trend,
                "seasonal": seasonal,
                "residual": residual,
                "weight": weight,
            }
        )

    return fn


def pinned_grouped_apply(
    df: DataFrame,
    fn,
    schema,
    key: str = "url",
    partitions: int | None = None,
) -> DataFrame:
    """groupBy(key).applyInPandas behind an explicit NUMBERED repartition pin.

    EVERY CPU-heavy grouped-map stage must go through here: AQE coalesces
    shuffle partitions by BYTES, and an STL stage carries a few MB of data but
    hours of CPU — without the pin, AQE collapses it to one partition (the #1
    scale trap, see CLAUDE.md).  repartition(n, key) compiles to
    REPARTITION_BY_NUM, which AQE never coalesces, and the groupBy reuses
    that hash partitioning so no extra shuffle is introduced."""
    spark = df.sparkSession
    # 16 tasks per core: group work is uniform (grid-length-bounded), so many
    # small tasks let the scheduler absorb per-task jitter — 4 coarse waves
    # quantize the stage tail to a whole wave on a noisy host, measured ~15%
    # slower at 32 cores on the 8000-series workload.
    partitions = partitions or spark.sparkContext.defaultParallelism * 16
    return df.repartition(partitions, key).groupBy(key).applyInPandas(fn, schema)


def stl_decompose_sparse_df(
    buckets: DataFrame,
    period: int,
    granularity: str = "hour",
    fill_value: float = 0.0,
    partitions: int | None = None,
    **config_kwargs,
) -> DataFrame:
    """(url, ts, cnt) buckets -> decomposed dense grid
    (url, ts, value, trend, seasonal, residual, weight).

    The input is bucketize() output, or an already dense (url, ts, value)
    grid with value renamed to cnt.  The gap-fill runs inside the
    grouped-map kernel (see make_sparse_stl_fn).  The stage's parallelism
    is pinned by pinned_grouped_apply, not left to AQE's byte-based
    coalescing."""
    return pinned_grouped_apply(
        buckets,
        make_sparse_stl_fn(period, granularity, fill_value, **config_kwargs),
        STL_SCHEMA,
        partitions=partitions,
    )

"""STL decomposition as one sorted Arrow map over url runs.

The whole reference algorithm is embarrassingly parallel across series
(SURVEY.md §3: control never crosses a thread boundary), so the entire
decomposition lifecycle runs inside one Python call per url run and Spark
owns all distribution.  Rows arrive as Arrow batches -> contiguous NumPy
arrays, so the Java inner loops are NumPy vector ops with no model
impedance.

There is one per-url core, ``_decompose_url``: it gap-fills the url's
observed buckets to its dense grid and decomposes it.  Every STL caller —
the pipeline, the driver queries, the tools — goes through it via
``stl_decompose_sparse_df``; a caller holding an already dense grid passes
it with the value column named ``cnt``.

Stage shape: ``runs.map_runs`` keyed on url, ordered by ts — a numbered
url repartition (AQE-exempt), a (url, ts) sort, and one ``mapInArrow`` pass
that hands the kernel blocks of whole url runs.  There is no per-group
pandas DataFrame in or out: one Arrow batch in, one Arrow batch out.  The
output stays url-contiguous and ts-ordered, which the 1h tier's presorted
Gorilla sink relies on.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from ..plans.malloc import tune_malloc
from ..stl.core import stl_decompose
from ..stl.settings import build_stl_config
from .gapfill import STEP_SECONDS, dense_grid
from .runs import map_runs

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

def _decompose_url(ts, cnt, step: int, fill_value: float, period: int, config_kwargs: dict):
    """One url's gap-fill + decomposition.

    ``ts`` holds the url's observed bucket starts (int64 epoch seconds) and
    ``cnt`` their values.  Returns (grid, value, trend, seasonal, residual,
    weight).  The dense grid has the same semantics as the distributed
    ``gapfill()``: per-url [min ts, max ts], observed cnt else fill_value.
    Series shorter than 2*period (the reference's validity floor) degrade to
    trend=value, seasonal=0.  ``stl_decompose`` is looked up as a module
    global at call time, so a profiler can wrap it."""
    grid, y = dense_grid(ts, cnt, step, fill_value)
    n = len(y)
    if n >= 2 * period:
        d = stl_decompose(y, build_stl_config(n, period, **config_kwargs))
        return grid, y, d.trend, d.seasonal, d.residual, d.weights
    return grid, y, y, 0.0 * y, 0.0 * y, 1.0 + 0.0 * y


def make_sparse_stl_fn(period: int, granularity: str, fill_value: float, **config_kwargs):
    """The per-url core as a pandas function: one url's (url, ts, cnt) rows
    in, its decomposed dense grid (STL_SCHEMA columns) out.  For in-process
    callers that hold one url's rows; the Spark stage runs the same core
    through ``make_sparse_stl_kernel``."""
    step = STEP_SECONDS[granularity]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        tune_malloc()  # once per process; no-op afterwards
        ts = pdf["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
        grid, *cols = _decompose_url(
            ts, pdf["cnt"].to_numpy(dtype=float), step, fill_value, period, config_kwargs
        )
        return pd.DataFrame(
            {
                "url": np.repeat(pdf["url"].iloc[0], len(grid)),
                "ts": grid.astype("datetime64[s]"),
                **dict(zip(STL_SCHEMA.names[2:], cols)),
            }
        )

    return fn


def make_sparse_stl_kernel(period: int, granularity: str, fill_value: float, **config_kwargs):
    """The per-url core as a ``map_runs`` function: one block of complete,
    ts-ordered url runs of (url, ts, cnt) rows in, one RecordBatch holding
    every run's decomposed grid out."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    step = STEP_SECONDS[granularity]
    ts_type = to_arrow_type(TimestampType())

    def decompose_runs(block: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
        ts = block.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
        cnt = block.column("cnt").to_numpy(zero_copy_only=False).astype(float)
        ends = np.r_[starts[1:], block.num_rows]
        runs = [
            _decompose_url(ts[a:b], cnt[a:b], step, fill_value, period, config_kwargs)
            for a, b in zip(starts, ends)
        ]
        cols = [np.concatenate(c) for c in zip(*runs)]
        return pa.RecordBatch.from_arrays(
            [
                block.column("url").take(pa.array(np.repeat(starts, [len(r[0]) for r in runs]))),
                pa.array(cols[0] * 1_000_000, type=ts_type),
                *(pa.array(c, type=pa.float64()) for c in cols[1:]),
            ],
            names=STL_SCHEMA.names,
        )

    return decompose_runs


def stl_decompose_sparse_df(
    buckets: DataFrame,
    period: int,
    granularity: str = "hour",
    fill_value: float = 0.0,
    **config_kwargs,
) -> DataFrame:
    """(url, ts, cnt) buckets -> decomposed dense grid
    (url, ts, value, trend, seasonal, residual, weight).

    The input is bucketize() output, or an already dense (url, ts, value)
    grid with value renamed to cnt.  The gap-fill runs inside the kernel
    (see _decompose_url), so only observed rows cross the shuffle and the
    Arrow boundary.  The repartition is numbered (REPARTITION_BY_NUM), so
    AQE's byte-based coalescing cannot collapse the CPU-heavy stage; it
    runs one task per core, like every Python stage (see runs.map_runs)."""
    return map_runs(
        buckets.select("url", "ts", "cnt"),
        ["url"],
        ["ts"],
        make_sparse_stl_kernel(period, granularity, fill_value, **config_kwargs),
        STL_SCHEMA,
    )

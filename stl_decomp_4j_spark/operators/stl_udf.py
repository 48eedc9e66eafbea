"""STL decomposition as one sorted Arrow map over url runs.

The whole reference algorithm is embarrassingly parallel across series
(SURVEY.md §3: control never crosses a thread boundary), so the entire
decomposition lifecycle runs inside one Python call per url run and Spark
owns all distribution.  Rows arrive as Arrow batches -> contiguous NumPy
arrays, so the Java inner loops are NumPy vector ops with no model
impedance.

There is one per-url stage, ``map_filled_runs``: it gap-fills each url's
observed buckets to its dense grid and calls a per-url body on it.  Every
STL caller — the pipeline, the driver queries, the tools — decomposes
through it via ``stl_decompose_sparse_df``; a caller holding an already
dense grid passes it with the value column named ``cnt``.  The per-url STL
driver queries (fit statistics, seasonal smoothing, exogenous regressors)
are other bodies on the same stage.

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
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
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


def _stl_per_url(period: int, config_kwargs: dict):
    """The STL body of a ``map_filled_runs`` stage: one url's dense grid
    ``ts`` and values ``y`` in, its STL_SCHEMA columns after url out.
    Series shorter than 2*period (the reference's validity floor) degrade
    to trend=value, seasonal=0.  ``stl_decompose`` is looked up as a module
    global at call time, so a profiler can wrap it."""

    def per_url(ts, y):
        n = len(y)
        if n >= 2 * period:
            d = stl_decompose(y, build_stl_config(n, period, **config_kwargs))
            cols = d.trend, d.seasonal, d.residual, d.weights
        else:
            cols = y, 0.0 * y, 0.0 * y, 1.0 + 0.0 * y
        return dict(zip(STL_SCHEMA.names[1:], (ts, y, *cols)))

    return per_url


def make_sparse_stl_fn(period: int, granularity: str, fill_value: float, **config_kwargs):
    """The per-url STL body as a pandas function: one url's (url, ts, cnt)
    rows in, its decomposed dense grid (STL_SCHEMA columns) out.  For
    in-process callers that hold one url's rows; the Spark stage runs the
    same fill and body through ``map_filled_runs``."""
    step = STEP_SECONDS[granularity] * 1_000_000
    per_url = _stl_per_url(period, config_kwargs)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        tune_malloc()  # once per process; no-op afterwards
        ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        grid, y = dense_grid(ts, pdf["cnt"].to_numpy(dtype=float), step, fill_value)
        cols = per_url(grid.astype("datetime64[us]"), y)
        return pd.DataFrame({"url": np.repeat(pdf["url"].iloc[0], len(y)), **cols})

    return fn


def map_filled_runs(
    buckets: DataFrame,
    schema: StructType,
    per_url,
    granularity: str = "hour",
) -> DataFrame:
    """``per_url(ts, y)`` on each url's gap-filled series, in one sorted
    Arrow map over the url runs of the (url, ts, cnt) ``buckets``
    (runs.map_runs).  Each run is filled in the kernel by
    ``gapfill.dense_grid`` — per-url [min ts, max ts], observed cnt else
    0, the distributed ``gapfill()`` grid — so only observed
    rows cross the shuffle and the Arrow boundary.  ``ts`` is UTC
    datetime64[us], ``y`` float64; ``per_url`` returns the columns of
    ``schema`` after url, one value per output row of that url."""
    step = STEP_SECONDS[granularity] * 1_000_000
    types = [to_arrow_type(f.dataType) for f in schema.fields[1:]]

    def fill_runs(block: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
        ts = block.column("ts").cast(pa.int64()).to_numpy()
        cnt = block.column("cnt").to_numpy(zero_copy_only=False).astype(float)
        outs = []
        for a, b in zip(starts, np.r_[starts[1:], block.num_rows]):
            grid, y = dense_grid(ts[a:b], cnt[a:b], step)
            outs.append(per_url(grid.astype("datetime64[us]"), y))
        rows = np.repeat(starts, [len(o[schema.names[1]]) for o in outs])
        return pa.RecordBatch.from_arrays(
            [
                block.column("url").take(pa.array(rows)),
                *(
                    pa.array(np.concatenate([o[name] for o in outs]), type=t)
                    for name, t in zip(schema.names[1:], types)
                ),
            ],
            names=schema.names,
        )

    return map_runs(buckets.select("url", "ts", "cnt"), ["url"], ["ts"], fill_runs, schema)


def stl_decompose_sparse_df(
    buckets: DataFrame,
    period: int,
    granularity: str = "hour",
    **config_kwargs,
) -> DataFrame:
    """(url, ts, cnt) buckets -> decomposed dense grid
    (url, ts, value, trend, seasonal, residual, weight).

    The input is bucketize() output, or an already dense (url, ts, value)
    grid with value renamed to cnt.  The gap-fill runs inside the kernel
    (see map_filled_runs).  The repartition is numbered
    (REPARTITION_BY_NUM), so AQE's byte-based coalescing cannot collapse
    the CPU-heavy stage; it runs one task per core, like every Python stage
    (see runs.map_runs)."""
    return map_filled_runs(
        buckets, STL_SCHEMA, _stl_per_url(period, config_kwargs), granularity
    )

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

Stage shape: ``repartition(n, url).sortWithinPartitions(url, ts)
.mapInArrow(kernel)``.  The numbered repartition keeps a url's series in one
partition and pins the stage's parallelism against AQE; the sort makes each
url a contiguous, time-ordered run that the kernel finds with NumPy on the
url column.  There is no per-group pandas DataFrame in or out: one Arrow
batch in, one Arrow batch out.  The output stays url-contiguous and
ts-ordered, which the 1h tier's presorted Gorilla sink relies on.
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from ..plans.malloc import tune_malloc
from ..stl.core import stl_decompose
from ..stl.settings import build_stl_config
from .compress import last_run_start
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
    """The per-url core as a ``mapInArrow`` kernel over (url, ts)-sorted
    (url, ts, cnt) batches.

    Url runs are found with NumPy on the batch's dictionary-encoded url
    column.  Rows are sorted within the partition and batches arrive in
    order, so only a batch's LAST url run may continue into the next batch:
    it is held back (compress.last_run_start) and prepended to the next one
    (a url spanning many batches is carried until its run ends).  Each input batch yields at most
    one output batch holding every complete run's grid."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    step = STEP_SECONDS[granularity]
    ts_type = to_arrow_type(TimestampType())

    def url_codes(url) -> np.ndarray:
        return pc.dictionary_encode(url, null_encoding="encode").indices.to_numpy()

    def decompose_runs(url, codes, ts, cnt) -> pa.RecordBatch:
        starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
        ends = np.r_[starts[1:], len(codes)]
        runs = [
            _decompose_url(ts[a:b], cnt[a:b], step, fill_value, period, config_kwargs)
            for a, b in zip(starts, ends)
        ]
        cols = [np.concatenate(c) for c in zip(*runs)]
        return pa.RecordBatch.from_arrays(
            [
                url.take(pa.array(np.repeat(starts, [len(r[0]) for r in runs]))),
                pa.array(cols[0] * 1_000_000, type=ts_type),
                *(pa.array(c, type=pa.float64()) for c in cols[1:]),
            ],
            names=STL_SCHEMA.names,
        )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_malloc()  # once per worker process; no-op afterwards
        url = ts = cnt = None
        for batch in batches:
            if not batch.num_rows:
                continue
            b_url = batch.column("url")
            b_ts = batch.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
            b_cnt = batch.column("cnt").to_numpy(zero_copy_only=False).astype(float)
            if url is None:
                url, ts, cnt = b_url, b_ts, b_cnt
            else:
                url = pa.concat_arrays([url, b_url])
                ts, cnt = np.concatenate([ts, b_ts]), np.concatenate([cnt, b_cnt])
            codes = url_codes(url)
            cut = last_run_start(codes)
            if cut:
                yield decompose_runs(url.slice(0, cut), codes[:cut], ts[:cut], cnt[:cut])
                url, ts, cnt = url.slice(cut), ts[cut:], cnt[cut:]
        if url is not None:
            yield decompose_runs(url, url_codes(url), ts, cnt)

    return kernel


def pinned_grouped_apply(
    df: DataFrame,
    fn,
    schema,
    key: str = "url",
) -> DataFrame:
    """groupBy(key).applyInPandas behind an explicit NUMBERED repartition pin.

    EVERY CPU-heavy grouped-map stage must go through here: AQE coalesces
    shuffle partitions by BYTES, and an STL stage carries a few MB of data but
    hours of CPU — without the pin, AQE collapses it to one partition (the #1
    scale trap, see CLAUDE.md).  repartition(n, key) compiles to
    REPARTITION_BY_NUM, which AQE never coalesces, and the groupBy reuses
    that hash partitioning so no extra shuffle is introduced.  One task per
    core: a Python task's fixed start-up cost (~0.15 s of worker CPU)
    outweighs what a finer split gains on these stages."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(cores, key).groupBy(key).applyInPandas(fn, schema)


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
    runs one task per core, like every Python stage."""
    cores = buckets.sparkSession.sparkContext.defaultParallelism
    return (
        buckets.select("url", "ts", "cnt")
        .repartition(cores, "url")
        .sortWithinPartitions("url", "ts")
        .mapInArrow(
            make_sparse_stl_kernel(period, granularity, fill_value, **config_kwargs), STL_SCHEMA
        )
    )

"""Visual downsampling: Largest-Triangle-Three-Buckets (LTTB).

Serving a year of a 1h tier to a dashboard means shipping 8,760 points per
url to draw a ~1,000px chart; LTTB (Steinarsson, "Downsampling Time Series
for Visual Representation", U. Iceland 2013 — the algorithm behind
Grafana/Timescale `lttb()`) picks the ``n_out`` points that best preserve
the line's visual shape: first and last point always survive, the middle is
split into ``n_out - 2`` equal buckets, and each bucket contributes the
point forming the largest triangle with the previously selected point and
the NEXT bucket's centroid — so spikes/outliers survive where averaging
would erase them.

Spark mapping: the selection is sequential per series (each pick depends on
the previous one), so it runs per url inside one sorted Arrow map over url
runs (``runs.map_runs``, the STL kernel's stage shape) with the per-bucket
area argmax fully NumPy-vectorized; the Python-level loop is over OUTPUT
points only (n_out - 2 iterations regardless of input length).  Group
state is one url's series — the same bounded-by-time-range guarantee the
STL stage relies on.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

LTTB_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def lttb_select(t: np.ndarray, v: np.ndarray, n_out: int) -> np.ndarray:
    """Indices of the LTTB-selected points (float64 time/value arrays,
    assumed sorted by t).  Returns all indices when n <= n_out."""
    n = len(t)
    if n_out < 3:
        raise ValueError("n_out must be >= 3")
    if n <= n_out:
        return np.arange(n)
    mid = n_out - 2
    # bucket k covers middle indices [edges[k], edges[k+1]) (canonical split;
    # `every` is rounded ONCE then multiplied — the thesis pseudocode's op
    # order, so boundary truncation matches scalar implementations exactly)
    every = (n - 2) / mid
    edges = np.minimum(
        (np.arange(mid + 2, dtype=np.float64) * every).astype(np.int64) + 1, n
    )
    sel = np.empty(n_out, dtype=np.int64)
    sel[0] = 0
    sel[-1] = n - 1
    prev = 0
    for k in range(mid):
        lo, hi = edges[k], edges[k + 1]
        # centroid of the NEXT bucket, end clamped to n (for the last bucket
        # this degenerates to the final point — the canonical avg range)
        nlo, nhi = edges[k + 1], edges[k + 2]
        t_avg = t[nlo:nhi].mean()
        v_avg = v[nlo:nhi].mean()
        tp, vp = t[prev], v[prev]
        # 2x triangle area, vectorized across the bucket's candidates
        area = np.abs(
            (tp - t_avg) * (v[lo:hi] - vp) - (tp - t[lo:hi]) * (v_avg - vp)
        )
        prev = lo + int(np.argmax(area))
        sel[k + 1] = prev
    return sel


def lttb(series: DataFrame, n_out: int) -> DataFrame:
    """Downsample each url's (ts, value) series to ``n_out`` points."""
    import pyarrow as pa

    from stl_decomp_4j_spark.operators.runs import map_runs

    def fn(block: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
        micros = block.column("ts").cast(pa.int64()).to_numpy()
        v = block.column("value").to_numpy(zero_copy_only=False).astype(np.float64)
        ends = np.r_[starts[1:], block.num_rows]
        # RELATIVE micros: epoch-micros sums exceed 2^53 (centroid means
        # would round), relative offsets are exact integers in float64, so
        # every area comparison is reproducible bit-for-bit by any
        # implementation using the same coordinates
        rows = pa.array(np.concatenate([
            a + lttb_select((micros[a:b] - micros[a]).astype(np.float64), v[a:b], n_out)
            for a, b in zip(starts, ends)
        ]))
        return pa.RecordBatch.from_arrays(
            [block.column("url").take(rows), block.column("ts").take(rows),
             pa.array(v).take(rows)],
            names=LTTB_SCHEMA.names,
        )

    return map_runs(series.select("url", "ts", "value"), ["url"], ["ts"], fn, LTTB_SCHEMA)

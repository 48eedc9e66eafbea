"""One keyed-state carry: the shape of every stateful streaming operator
(gap-fill, outage monitor, sessionizer, snapshot dedup).

``groupBy(key).applyInPandasWithState`` in append mode, no timeout.  Per key
and micro-batch the helper concatenates the rows, orders them by one column
as int64 (timestamps as epoch microseconds), and drops every row at or
behind the state's first field, the last order value the key consumed.
That is the one replay rule: such a row was already accounted for by an
earlier emission, and append-mode output is final the moment it is written,
so re-emitting would duplicate it downstream.  Each emission is therefore
exactly-once across micro-batches and restarts.  The state is a fixed tuple
of int64s per key, checkpointed by Spark, so its size never grows with
history.  The streaming analogue of ``operators/runs.map_runs``.
"""
from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType


def carry_by_key(
    rows: DataFrame,
    key: str,
    order: str,
    state_fields: list[str],
    step: Callable[[object, np.ndarray, pd.DataFrame, tuple | None], tuple[tuple, pd.DataFrame]],
    out_schema: StructType,
) -> DataFrame:
    """Call ``step(key, o, pdf, state) -> (state, out)`` once per key and
    micro-batch with at least one new row.

    ``pdf`` holds the key's new rows ordered by ``order`` and ``o`` their
    int64 order values; ``state`` is the key's previous tuple of
    ``state_fields`` values, or None for a key seen for the first time.
    The returned state (``state[0]`` the last order value consumed) is
    stored and ``out`` (columns of ``out_schema``) is emitted if non-empty.
    """
    state_schema = StructType([StructField(f, LongType()) for f in state_fields])

    def fn(k, pdf_iter, state):
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        o = pdf[order].to_numpy()
        if o.dtype.kind == "M":
            o = o.astype("datetime64[us]")
        o = o.astype(np.int64)
        idx = np.argsort(o, kind="stable")
        prev = state.get if state.exists else None
        if prev is not None:
            idx = idx[o[idx] > prev[0]]
        if not len(idx):
            return  # stale replay entirely behind the state
        new, out = step(k[0], o[idx], pdf.iloc[idx], prev)
        state.update(tuple(int(v) for v in new))
        if len(out):
            yield out

    return rows.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )

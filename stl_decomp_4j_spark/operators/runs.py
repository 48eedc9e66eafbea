"""One sorted Arrow map over key runs: the shape of every per-series Python
stage (the STL kernel, Gorilla encode and compaction, LTTB, the per-url STL
driver queries).

``repartition(cores, *keys).sortWithinPartitions(*keys, *order)
.mapInArrow(...)``.  The numbered repartition keeps a key's rows in one
partition and pins the stage's parallelism against AQE's byte-based
coalescing (REPARTITION_BY_NUM); one task per core, because a Python task's
fixed start-up cost (~0.15 s of worker CPU) outweighs what a
finer split gains.  The sort makes each key a contiguous, ordered run.

Batches of a partition arrive in order, so only a batch's LAST run may
continue into the next batch: it is held back and prepended to the next one
(a run spanning many batches is carried until it ends).  ``fn`` sees every
complete run exactly once, as one Arrow batch per input batch — no
per-group pandas DataFrame in or out.
"""
from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..plans.malloc import tune_malloc


def _run_starts(block: pa.RecordBatch, keys: list[str]) -> np.ndarray:
    """Row index of each run of equal key tuples (ascending, starts with 0),
    from the dictionary codes of the key columns."""
    new = np.zeros(block.num_rows, dtype=bool)
    new[0] = True
    for k in keys:
        codes = pc.dictionary_encode(block.column(k), null_encoding="encode").indices.to_numpy()
        new[1:] |= codes[1:] != codes[:-1]
    return np.flatnonzero(new)


def map_runs(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    fn: Callable[[pa.RecordBatch, np.ndarray], pa.RecordBatch],
    schema: StructType,
    presorted: bool = False,
) -> DataFrame:
    """Call ``fn(block, run_starts)`` on (keys, order)-sorted Arrow blocks
    that hold only complete key runs; ``run_starts`` are the runs' first
    rows.  ``fn`` returns one RecordBatch of ``schema``.

    ``presorted=True`` skips the repartition and sort: the caller vouches
    that each key's rows are already contiguous and ordered within every
    partition."""
    if not presorted:
        cores = df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(cores, *keys).sortWithinPartitions(*keys, *order)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_malloc()  # once per worker process; no-op afterwards
        pending = None
        for batch in batches:
            if not batch.num_rows:
                continue
            if pending is not None:
                batch = pa.RecordBatch.from_arrays(
                    [pa.concat_arrays([p, b]) for p, b in zip(pending.columns, batch.columns)],
                    schema=batch.schema,
                )
            starts = _run_starts(batch, keys)
            cut = int(starts[-1])
            if cut:
                yield fn(batch.slice(0, cut), starts[:-1])
            pending = batch.slice(cut)
        if pending is not None:
            yield fn(pending, _run_starts(pending, keys))

    return df.mapInArrow(kernel, schema)

"""Gorilla-compress tier rows into per-(url, tier) binary chunks, and the
inverse for reads/verification.

Chunks are per url per column stream, split into time slabs of at most
``CHUNK_POINTS`` points, so a reader prunes to the url+time-range it needs
on (url, t0, t1, column) metadata alone (prune_chunks / read_range) and
never decodes outside the range.  In the store, a chunk never crosses a
calendar slab (retention.slab_start): the slab start is a run key of the
encode and of compaction, so a run — and every chunk cut from it — lies in
one slab.

Scale shape: a grouped-map applyInPandas paid ~10 ms of per-group overhead
(per-group pandas construction + sort) against ~0.25 ms of actual encoding
per 1,441-pt series — at 24k urls that overhead WAS the compression phase.
compress_tier and compact_chunks' recode branch instead run on
``runs.map_runs``: a numbered (AQE-exempt) repartition, a sort within
partitions, and one Python call per Arrow batch of whole key runs — url
runs found from dictionary codes, url and carry columns copied by Arrow
``take``, no per-group DataFrame machinery.
"""
from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..codec.gorilla import decode_series, encode_series
from .retention import slab_start
from .rollup import TIERS
from .runs import map_runs

# most points per chunk: bounded decode memory, and chunk boundaries a range
# read can prune on within a url's history
CHUNK_POINTS = 4096

CHUNK_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("t0", TimestampType()),
        StructField("t1", TimestampType()),
        StructField("n", IntegerType()),
        StructField("column", StringType()),
        StructField("chunk", BinaryType()),
    ]
)

_TS_TYPE = to_arrow_type(TimestampType())


def _slab_keyed(df: DataFrame, keys: list[str], ts_col: str, slab: str | None):
    """``df`` and its run keys, plus the calendar slab start of ``ts_col`` as
    a last key when ``slab`` is set, so no run crosses a slab."""
    if slab is None:
        return df, keys
    return df.withColumn("_slab", slab_start(slab, ts_col)), [*keys, "_slab"]


def _chunk_batch(block: pa.RecordBatch, src, t0, t1, n, column, chunk, carry_cols=()):
    """One CHUNK_SCHEMA (+ ``carry_cols``) batch.  ``src`` is each chunk's
    source row in ``block``: url and the carry columns are copied from there
    by take, whatever their type; t0/t1 are epoch µs."""
    src = pa.array(src, type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            block.column("url").take(src),
            pa.array(np.asarray(t0, dtype=np.int64), type=_TS_TYPE),
            pa.array(np.asarray(t1, dtype=np.int64), type=_TS_TYPE),
            pa.array(n, type=pa.int32()),
            pa.array(column, type=pa.string()),
            pa.array(chunk, type=pa.binary()),
            *(block.column(c).take(src) for c in carry_cols),
        ],
        names=CHUNK_SCHEMA.names + list(carry_cols),
    )


def _encode_block(
    block: pa.RecordBatch,
    starts: np.ndarray,
    columns: list[str],
    chunk_points: int,
) -> pa.RecordBatch:
    """Encode every run of a (keys, ts)-sorted block, splitting runs longer
    than ``chunk_points`` into time-slab chunks."""
    ts_us = block.column("ts").cast(pa.int64()).to_numpy()
    ts_ms = ts_us // 1000
    vals = {c: block.column(c).to_numpy(zero_copy_only=False).astype(float) for c in columns}
    bounds = np.append(starts, block.num_rows)
    out: dict[str, list] = {"src": [], "t0": [], "t1": [], "n": [], "column": [], "chunk": []}
    for a, b in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        for s in range(a, b, chunk_points):
            e = min(s + chunk_points, b)
            for col in columns:
                out["src"].append(a)
                out["t0"].append(ts_us[s])
                out["t1"].append(ts_us[e - 1])
                out["n"].append(e - s)
                out["column"].append(col)
                out["chunk"].append(encode_series(ts_ms[s:e], vals[col][s:e]))
    return _chunk_batch(block, **out)


def compress_tier(
    tier: DataFrame,
    chunk_points: int = CHUNK_POINTS,
    presorted: bool = False,
    slab: str | None = None,
) -> DataFrame:
    """Encode every column of ``tier`` other than (url, ts) as per-url
    Gorilla chunks.

    ``chunk_points`` bounds points per chunk: bounded decode memory, and
    time-slab chunk boundaries so a range read can prune WITHIN a url's
    history — at 100x the 1h table spans years and a dashboard reads days.

    ``presorted=True`` skips the repartition+sort: valid when the input
    already has each url's rows contiguous and time-ordered within every
    scan partition — true for the materialized 1h tier, whose parquet files
    are written straight from the url-hash-partitioned STL stage (whole
    groups, grid order; hourly_tier is a pure projection).  This removes the
    sink's only shuffle (the full tier's bytes) — the phase that scales
    worst across executors.  A file split mid-url just yields one extra
    chunk at the boundary; correctness never depends on the ordering (any
    ordering round-trips), only the chunk count/compression ratio does.

    ``slab`` ('day'/'week'/'month') makes the slab start a second run key,
    so every chunk lies in one calendar slab and retention drops whole
    expired slabs without touching any chunk's bytes."""
    columns = [c for c in tier.columns if c not in ("url", "ts")]
    tier, keys = _slab_keyed(tier, ["url"], "ts", slab)

    def fn(block: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
        return _encode_block(block, starts, columns, chunk_points)

    return map_runs(tier, keys, ["ts"], fn, CHUNK_SCHEMA, presorted=presorted)


def _recode_block(
    block: pa.RecordBatch,
    starts: np.ndarray,
    chunk_points: int,
    carry_cols: list[str],
) -> pa.RecordBatch:
    """Decode every (url, column[, slab]) run of chunks in a (url, column,
    t0)-sorted block, concatenate the points, and re-encode into
    maximally-filled ``chunk_points`` chunks."""
    bounds = np.append(starts, block.num_rows)
    blobs = block.column("chunk").to_pylist()
    out: dict[str, list] = {"src": [], "t0": [], "t1": [], "n": [], "column": [], "chunk": []}
    for a, b in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        col = block.column("column")[a].as_py()
        parts = [decode_series(blobs[j]) for j in range(a, b)]
        ts = np.concatenate([p[0] for p in parts])
        vals = np.concatenate([p[1] for p in parts])
        if len(ts) > 1 and not np.all(np.diff(ts) > 0):
            raise ValueError(
                f"overlapping or duplicate chunks for url={block.column('url')[a].as_py()!r} "
                f"column={col!r}: timestamps not strictly increasing"
            )
        n = len(ts)
        for s in range(0, n, chunk_points):
            e = min(s + chunk_points, n)
            out["src"].append(a)
            out["t0"].append(ts[s] * 1000)
            out["t1"].append(ts[e - 1] * 1000)
            out["n"].append(e - s)
            out["column"].append(col)
            out["chunk"].append(encode_series(ts[s:e], vals[s:e]))
    return _chunk_batch(block, carry_cols=carry_cols, **out)


def _fragmented(chunk_points: int):
    """Aggregate predicate over a chunk group: it is fragmented iff it holds
    more chunks than the minimum, ceil(points / chunk_points) — so a
    compacted group never is again (fixpoint)."""
    import pyspark.sql.functions as F

    target = F.floor((F.sum("n") + F.lit(int(chunk_points) - 1)) / F.lit(int(chunk_points)))
    return F.count(F.lit(1)) > target


def compact_chunks(
    chunks: DataFrame,
    chunk_points: int = CHUNK_POINTS,
    slab: str | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Merge fragmented Gorilla chunks back into maximally-filled ones.

    Fragmentation sources at scale: the presorted 1h sink emits one extra
    chunk wherever a parquet file split lands mid-url, and repeated
    incremental partition rewrites inherit whatever run boundaries the scan
    produced that day.  Small chunks inflate both the per-chunk metadata the
    read path must prune and the per-chunk decode overhead.

    Scale shape — touch only what is fragmented:
      1. a metadata-only aggregation (no decode) finds the fragmented
         (url, column[, slab]) groups (``_fragmented``)
      2. chunks of healthy groups PASS THROUGH byte-identical (no decode,
         no re-encode)
      3. only fragmented groups go through ``map_runs`` keyed on the same
         (url, column[, slab]) groups: decoded, merged and re-encoded

    ``slab`` must match the store's encode-time slab: the slab start of a
    chunk's t0 is then a group key, and merged chunks never cross a
    calendar-slab boundary (retention stays metadata-only).
    ``carry_cols``: extra columns constant within each group (e.g. the
    store's bucket/slab partition values) copied onto re-encoded rows.
    """
    import pyspark.sql.functions as F

    carry_cols = list(carry_cols or [])
    out_cols = CHUNK_SCHEMA.names + carry_cols

    work, keys = _slab_keyed(chunks.select(*out_cols), ["url", "column"], "t0", slab)
    frag = (
        work.groupBy(*keys)
        .agg(_fragmented(chunk_points).alias("_frag"))
        .filter(F.col("_frag"))
    )
    tagged = work.join(frag, on=keys, how="left")
    keep = tagged.filter(F.col("_frag").isNull()).select(*out_cols)
    todo = tagged.filter(F.col("_frag").isNotNull()).select(*out_cols, *keys[2:])

    carry_fields = {f.name: f for f in chunks.schema.fields}
    schema = StructType(list(CHUNK_SCHEMA.fields) + [carry_fields[c] for c in carry_cols])

    def fn(block: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
        return _recode_block(block, starts, chunk_points, carry_cols)

    return keep.unionByName(map_runs(todo, keys, ["t0"], fn, schema))


def decompress_chunks(chunks: DataFrame, decode_counter=None) -> DataFrame:
    """Inverse of compress_tier: back to long (url, ts, column, value) rows.

    ``decode_counter``: optional Spark accumulator incremented once per chunk
    actually decoded — observability for the pruned read path (a test or a
    production monitor can assert decode work == chunks in range)."""
    from pyspark.sql.types import DoubleType

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("column", StringType()),
            StructField("ts_ms", LongType()),
            StructField("value", DoubleType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, column, chunk in zip(pdf["url"], pdf["column"], pdf["chunk"]):
                ts, vals = decode_series(bytes(chunk))
                if decode_counter is not None:
                    decode_counter.add(1)
                out.append(pd.DataFrame({"url": url, "column": column, "ts_ms": ts, "value": vals}))
            if out:
                yield pd.concat(out)

    # mapInPandas (not grouped-map): decode needs no grouping — each chunk is
    # self-contained — so no shuffle is introduced by the read path
    return chunks.select("url", "column", "chunk").mapInPandas(fn, schema)


def prune_chunks(
    chunks: DataFrame,
    urls: list[str] | None = None,
    ts_min=None,
    ts_max=None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Select only the chunks that can contain rows for the given url/time/
    column predicate, using chunk METADATA only (no decode).  Reading from
    parquet, every predicate lands in PushedFilters — at 100x the 1h Gorilla
    table is the engine's largest, and a range read must not touch (let alone
    decode) chunks outside the range.

    A chunk [t0, t1] overlaps [ts_min, ts_max] iff t1 >= ts_min and
    t0 <= ts_max."""
    import pyspark.sql.functions as F

    out = chunks
    if urls is not None:
        out = out.filter(F.col("url").isin(list(urls)))
    if columns is not None:
        out = out.filter(F.col("column").isin(list(columns)))
    if ts_min is not None:
        out = out.filter(F.col("t1") >= F.lit(ts_min))
    if ts_max is not None:
        out = out.filter(F.col("t0") <= F.lit(ts_max))
    return out


def read_range(
    chunks: DataFrame,
    urls: list[str] | None = None,
    ts_min=None,
    ts_max=None,
    columns: list[str] | None = None,
    decode_counter=None,
) -> DataFrame:
    """Pruned range read: metadata-prune chunks, decode only the survivors,
    then trim rows of boundary chunks to the exact [ts_min, ts_max] range."""
    import pyspark.sql.functions as F

    rows = decompress_chunks(
        prune_chunks(chunks, urls, ts_min, ts_max, columns), decode_counter=decode_counter
    )
    if ts_min is not None:
        rows = rows.filter(F.timestamp_millis(F.col("ts_ms")) >= F.lit(ts_min))
    if ts_max is not None:
        rows = rows.filter(F.timestamp_millis(F.col("ts_ms")) <= F.lit(ts_max))
    return rows


def _sql_literal(v) -> str:
    """A partition value as a SQL literal: the store's slab reads back as a
    date, its bucket as an integer."""
    import datetime as dt

    return f"DATE'{v.isoformat()}'" if isinstance(v, dt.date) else str(int(v))


def _in_partitions(parts):
    """``(bucket, slab) IN parts`` as one IN over a struct of the partition
    columns: a partition-column-only predicate, so a scan prunes statically
    (PartitionFilters) to exactly those partitions.  Built from one
    expression string — one JVM call, not three per partition."""
    import pyspark.sql.functions as F

    values = ", ".join(f"struct({_sql_literal(b)}, {_sql_literal(s)})" for b, s in parts)
    return F.expr(f"struct(bucket, slab) IN ({values})")


def _partition_counts(chunks: DataFrame) -> dict:
    return {
        (r["bucket"], r["slab"]): r["count"]
        for r in chunks.groupBy("bucket", "slab").count().collect()
    }


def _fragmented_partitions(chunks: DataFrame) -> dict:
    """(bucket, slab) -> chunk count, for every partition holding a
    fragmented (url, column) group: one two-level metadata aggregate (count
    and flag each group, then sum and OR them per partition)."""
    import pyspark.sql.functions as F

    parts = (
        chunks.groupBy("bucket", "slab", "url", "column")
        .agg(F.count(F.lit(1)).alias("n"), _fragmented(CHUNK_POINTS).alias("frag"))
        .groupBy("bucket", "slab")
        .agg(F.sum("n").alias("n"), F.bool_or("frag").alias("frag"))
        .filter(F.col("frag"))
        .collect()
    )
    return {(r["bucket"], r["slab"]): r["n"] for r in parts}


def compact_store(
    spark,
    out_root: str,
    tiers: tuple[str, ...] = tuple(TIERS),
) -> dict[str, dict]:
    """Store-level compaction job: rewrite exactly the (bucket, slab)
    partitions of each Gorilla table that contain fragmented chunk groups,
    leave every other partition untouched on disk.

    Detection is metadata-only (one aggregation over (url, column, n) per
    table — no chunk decoded); rewrites go through the idempotent
    partition-overwrite sink the pipeline itself uses, so a crashed
    compaction re-run is safe, and a second pass finds nothing to do
    (compact_chunks packs each group into the fewest chunks of at most
    ``CHUNK_POINTS`` points).  Every rewritten partition gets a lineage row
    (status='compaction') with before/after chunk counts.

    The slab granularity is read from the store's params.json (a root
    without one raises ValueError) — merged chunks never cross a slab
    boundary, so metadata-only retention keeps working on compacted
    stores."""
    import pyspark.sql.functions as F

    from ..plans.checkpoint import Manifest, check_params, new_run_id
    from ..sources.catalog import write_table

    slab = check_params(out_root, "tier store")["slab"]
    manifest = Manifest(out_root)
    run_id = new_run_id()
    summary: dict[str, dict] = {}
    for tier in tiers:
        root = f"{out_root}/gorilla_{tier}"
        if not Path(root).exists():
            continue
        df = spark.read.parquet(root)
        before = _fragmented_partitions(df)
        if not before:
            summary[f"gorilla_{tier}"] = {"partitions": 0}
            continue
        in_frag = _in_partitions(before)
        compacted = compact_chunks(
            df.filter(in_frag), slab=slab, carry_cols=["bucket", "slab"]
        ).withColumn("run_id", F.lit(run_id))
        write_table(
            compacted, root, partition_by=["bucket", "slab"], mode="overwrite_partitions"
        )
        after = _partition_counts(spark.read.parquet(root).filter(in_frag))
        for (b, s), n_before in sorted(before.items()):
            manifest.mark(
                run_id, int(b), "compaction",
                table=f"gorilla_{tier}", slab=str(s),
                chunks_before=int(n_before), chunks_after=int(after.get((b, s), 0)),
            )
        summary[f"gorilla_{tier}"] = {
            "partitions": len(before),
            "chunks_before": int(sum(before.values())),
            "chunks_after": int(sum(after.values())),
        }
    return summary

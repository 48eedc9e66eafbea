"""Gorilla-compress tier rows into per-(url, tier) binary chunks, and the
inverse for reads/verification.

Chunks are per url per column stream, split into time slabs of at most
``chunk_points`` points, so a reader prunes to the url+time-range it needs
on (url, t0, t1, column) metadata alone (prune_chunks / read_range) and
never decodes outside the range.

Scale shape: a grouped-map applyInPandas paid ~10 ms of per-group overhead
(per-group pandas construction + sort) against ~0.25 ms of actual encoding
per 1,441-pt series — at 24k urls that overhead WAS the compression phase.
compress_tier instead repartitions by url (explicit count — AQE-exempt),
sorts within partitions by (url, ts), and streams Arrow batches through
mapInPandas: one Python call per ~10k rows, url boundaries found with
searchsorted/flatnonzero, no per-group DataFrame machinery.  A url never
spans partitions; a url spanning consecutive Arrow batches is carried over
inside the iterator.
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
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

# calendar slabs a chunk can be aligned to (retention drops whole slabs)
_SLAB_PERIOD = {"day": "D", "week": "W", "month": "M"}


def _slab_ids(ts_col: pd.Series, slab: str) -> np.ndarray:
    """Integer calendar-slab id per row (equal ids <=> same slab)."""
    try:
        period = _SLAB_PERIOD[slab]
    except KeyError:
        raise ValueError(f"slab must be one of {sorted(_SLAB_PERIOD)}, got {slab!r}") from None
    return pd.PeriodIndex(ts_col, freq=period).asi8


def _encode_block(
    pdf: pd.DataFrame, columns: list[str], chunk_points: int | None, slab: str | None = None
) -> pd.DataFrame:
    """Encode every complete url run in an already (url, ts)-sorted block,
    splitting runs longer than ``chunk_points`` into time-slab chunks.

    With ``slab`` set, runs are additionally cut at calendar-slab boundaries
    so every chunk lies wholly inside one slab — the retention path
    (operators/retention.py) then drops whole slab partitions on metadata
    alone, never splitting or rewriting a chunk."""
    urls = pdf["url"].to_numpy()
    ts_col = pdf["ts"]
    ts_ms = ts_col.astype("datetime64[ms]").astype("int64").to_numpy()
    vals = {c: pdf[c].to_numpy(dtype=float) for c in columns}
    new_run = urls[1:] != urls[:-1]
    if slab is not None:
        sids = _slab_ids(ts_col, slab)
        new_run = new_run | (sids[1:] != sids[:-1])
    bounds = np.flatnonzero(np.r_[True, new_run, True])
    out: dict[str, list] = {f.name: [] for f in CHUNK_SCHEMA.fields}
    for i in range(len(bounds) - 1):
        a, b = int(bounds[i]), int(bounds[i + 1])
        step = chunk_points or (b - a)
        for s in range(a, b, step):
            e = min(s + step, b)
            for col in columns:
                out["url"].append(urls[a])
                out["t0"].append(ts_col.iloc[s])
                out["t1"].append(ts_col.iloc[e - 1])
                out["n"].append(e - s)
                out["column"].append(col)
                out["chunk"].append(encode_series(ts_ms[s:e], vals[col][s:e]))
    return pd.DataFrame(out)


def last_run_start(*keys: np.ndarray) -> int:
    """Start of the last run of equal key tuples in a non-empty batch.

    The streaming map stages (compress_tier, compact_chunks, the STL kernel)
    read key-sorted partitions whose batches arrive in order, so only a
    batch's LAST run may continue into the next batch: rows [start:] are
    held back and prepended to the next one."""
    differs = np.zeros(len(keys[0]), dtype=bool)
    for k in keys:
        differs |= k != k[-1]
    idx = np.flatnonzero(differs)
    return int(idx[-1]) + 1 if len(idx) else 0


def compress_tier(
    tier: DataFrame,
    columns: list[str] | None = None,
    chunk_points: int | None = 4096,
    presorted: bool = False,
    slab: str | None = None,
) -> DataFrame:
    """``chunk_points`` bounds points per chunk (default 4096): bounded decode
    memory, and time-slab chunk boundaries so a range read can prune WITHIN a
    url's history — at 100x the 1h table spans years and a dashboard reads
    days.  None = one chunk per url (unbounded).

    ``presorted=True`` skips the repartition+sort: valid when the input
    already has each url's rows contiguous and time-ordered within every
    scan partition — true for the materialized 1h tier, whose parquet files
    are written straight from the url-hash-partitioned STL stage (whole
    groups, grid order; hourly_tier is a pure projection).  This removes the
    sink's only shuffle (the full tier's bytes) — the phase that scales
    worst across executors.  A file split mid-url just yields one extra
    chunk at the boundary; correctness never depends on the ordering (any
    ordering round-trips), only the chunk count/compression ratio does.

    ``slab`` ('day'/'week'/'month') additionally aligns chunks to calendar
    slabs so retention can drop whole expired slabs without touching any
    chunk's bytes (see _encode_block)."""
    columns = columns or [c for c in tier.columns if c not in ("url", "ts")]
    # one task per core: encoding is ~0.25 ms per series, so a Python task's
    # fixed start-up cost (CLAUDE.md) dominates any finer split
    cores = tier.sparkSession.sparkContext.defaultParallelism

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                continue
            cut = last_run_start(pdf["url"].to_numpy())
            pending = pdf.iloc[cut:]
            ready = pdf.iloc[:cut]
            if len(ready):
                yield _encode_block(ready, columns, chunk_points, slab)
        if pending is not None and len(pending):
            yield _encode_block(pending, columns, chunk_points, slab)

    if presorted:
        return tier.mapInPandas(fn, CHUNK_SCHEMA)
    return (
        tier.repartition(cores, "url")
        .sortWithinPartitions("url", "ts")
        .mapInPandas(fn, CHUNK_SCHEMA)
    )


def _recode_block(
    pdf: pd.DataFrame,
    chunk_points: int | None,
    slab: str | None,
    carry_cols: list[str],
) -> pd.DataFrame:
    """Decode every (url, column[, slab]) run of chunks in an already
    (url, column, t0)-sorted block, concatenate the points, and re-encode
    into maximally-filled ``chunk_points`` chunks."""
    urls = pdf["url"].to_numpy()
    cols = pdf["column"].to_numpy()
    new_run = (urls[1:] != urls[:-1]) | (cols[1:] != cols[:-1])
    if slab is not None:
        sids = _slab_ids(pdf["t0"], slab)
        new_run = new_run | (sids[1:] != sids[:-1])
    bounds = np.flatnonzero(np.r_[True, new_run, True])
    out: dict[str, list] = {f.name: [] for f in CHUNK_SCHEMA.fields}
    for c in carry_cols:
        out[c] = []
    blobs = pdf["chunk"]
    for i in range(len(bounds) - 1):
        a, b = int(bounds[i]), int(bounds[i + 1])
        parts = [decode_series(bytes(blobs.iloc[j])) for j in range(a, b)]
        ts = np.concatenate([p[0] for p in parts])
        vals = np.concatenate([p[1] for p in parts])
        if len(ts) > 1 and not np.all(np.diff(ts) > 0):
            raise ValueError(
                f"overlapping or duplicate chunks for url={urls[a]!r} "
                f"column={cols[a]!r}: timestamps not strictly increasing"
            )
        n = len(ts)
        step = chunk_points or n
        for s in range(0, n, step):
            e = min(s + step, n)
            out["url"].append(urls[a])
            out["t0"].append(pd.Timestamp(int(ts[s]), unit="ms"))
            out["t1"].append(pd.Timestamp(int(ts[e - 1]), unit="ms"))
            out["n"].append(e - s)
            out["column"].append(cols[a])
            out["chunk"].append(encode_series(ts[s:e], vals[s:e]))
            for c in carry_cols:
                out[c].append(pdf[c].iloc[a])
    return pd.DataFrame(out)


def _slab_key(slab: str):
    """JVM-side group key matching the kernel's pandas ``_slab_ids`` cut:
    date_trunc month/week/day of a chunk's t0 (chunks are slab-aligned at
    encode time, so t0's slab IS the chunk's slab; Spark's 'week' and
    pandas period 'W' are both Monday-start)."""
    import pyspark.sql.functions as F

    if slab not in _SLAB_PERIOD:
        raise ValueError(f"slab must be one of {sorted(_SLAB_PERIOD)}, got {slab!r}")
    return F.date_trunc(slab, F.col("t0"))


def compact_chunks(
    chunks: DataFrame,
    chunk_points: int | None = 4096,
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
      1. a metadata-only aggregation (no decode) counts chunks and points per
         (url, column[, slab]) group; a group is fragmented iff its chunk
         count exceeds ceil(points / chunk_points), the minimum possible —
         so a second compaction pass is a no-op (fixpoint)
      2. chunks of healthy groups PASS THROUGH byte-identical (no decode,
         no re-encode)
      3. only fragmented groups are shuffled (numbered url+column
         repartition — AQE-exempt), sorted, decoded, merged and re-encoded
         through the same streaming mapInPandas pattern as compress_tier

    ``slab`` must match the store's encode-time slab so merged chunks never
    cross a calendar-slab boundary (retention stays metadata-only).
    ``carry_cols``: extra columns constant within each group (e.g. the
    store's bucket/slab partition values) copied onto re-encoded rows.
    """
    import pyspark.sql.functions as F

    carry_cols = list(carry_cols or [])
    # one task per core, like compress_tier
    cores = chunks.sparkSession.sparkContext.defaultParallelism
    out_cols = [f.name for f in CHUNK_SCHEMA.fields] + carry_cols

    keys = ["url", "column"]
    work = chunks.select(*out_cols)
    if slab is not None:
        work = work.withColumn("_slab_key", _slab_key(slab))
        keys = keys + ["_slab_key"]

    target = (
        F.floor((F.sum("n") + F.lit(int(chunk_points) - 1)) / F.lit(int(chunk_points)))
        if chunk_points
        else F.lit(1)
    )
    frag = (
        work.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_cnt"), target.alias("_target"))
        .filter(F.col("_cnt") > F.col("_target"))
        .select(*keys)
        .withColumn("_frag", F.lit(True))
    )
    tagged = work.join(frag, on=keys, how="left")
    keep = tagged.filter(F.col("_frag").isNull()).select(*out_cols)
    todo = tagged.filter(F.col("_frag").isNotNull()).select(*out_cols)

    carry_fields = {f.name: f for f in chunks.schema.fields}
    schema = StructType(list(CHUNK_SCHEMA.fields) + [carry_fields[c] for c in carry_cols])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                continue
            cut = last_run_start(pdf["url"].to_numpy(), pdf["column"].to_numpy())
            pending = pdf.iloc[cut:]
            ready = pdf.iloc[:cut]
            if len(ready):
                yield _recode_block(ready, chunk_points, slab, carry_cols)
        if pending is not None and len(pending):
            yield _recode_block(pending, chunk_points, slab, carry_cols)

    recoded = (
        todo.repartition(cores, "url", "column")
        .sortWithinPartitions("url", "column", "t0")
        .mapInPandas(fn, schema)
    )
    return keep.unionByName(recoded)


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


def compact_store(
    spark,
    out_root: str,
    tiers: tuple[str, ...] = ("1h", "1d", "1w"),
    chunk_points: int = 4096,
    or_chain_limit: int = 1000,
) -> dict[str, dict]:
    """Store-level compaction job: rewrite exactly the (bucket, slab)
    partitions of each Gorilla table that contain fragmented chunk groups,
    leave every other partition untouched on disk.

    Detection is metadata-only (one aggregation over (url, column, n) per
    table — no chunk decoded); rewrites go through the idempotent
    partition-overwrite sink the pipeline itself uses, so a crashed
    compaction re-run is safe, and a second pass finds nothing to do
    (compact_chunks packs each group to its minimum chunk count).  Every
    rewritten partition gets a lineage row (status='compaction') with
    before/after chunk counts.

    The slab granularity is read from the store's manifest (see
    store_slab_granularity) — merged chunks never cross a slab boundary, so
    metadata-only retention keeps working on compacted stores."""
    import pyspark.sql.functions as F

    from ..plans.checkpoint import Manifest, new_run_id
    from ..sources.catalog import write_table
    from .retention import _hadoop_fs, store_slab_granularity

    slab = store_slab_granularity(out_root)
    manifest = Manifest(out_root)
    run_id = new_run_id()
    summary: dict[str, dict] = {}
    for tier in tiers:
        root = f"{out_root}/gorilla_{tier}"
        fs, path, _ = _hadoop_fs(spark, root)
        if not fs.exists(path):
            continue
        df = spark.read.parquet(root)
        target = F.floor((F.sum("n") + F.lit(chunk_points - 1)) / F.lit(chunk_points))
        frag_parts = [
            (r["bucket"], r["slab"])
            for r in (
                df.groupBy("bucket", "slab", "url", "column")
                .agg(F.count(F.lit(1)).alias("_cnt"), target.alias("_target"))
                .filter(F.col("_cnt") > F.col("_target"))
                .select("bucket", "slab")
                .distinct()
                .collect()
            )
        ]
        if not frag_parts:
            summary[f"gorilla_{tier}"] = {"partitions": 0}
            continue
        # small lists: explicit OR of partition-column equalities statically
        # prunes the scan to the fragmented partitions (an isin over concat'd
        # columns would not).  Past ~10^3 partitions the OR-chain blows up
        # Catalyst (quadratic analysis + a megabyte predicate), so switch to
        # a broadcast semi-join on the fragmented-partition list — same rows,
        # runtime-filtered instead of statically pruned.
        if len(frag_parts) <= or_chain_limit:
            cond = None
            for b, s in frag_parts:
                c = (F.col("bucket") == b) & (F.col("slab") == s)
                cond = c if cond is None else (cond | c)

            def _subset(d, cond=cond):
                return d.filter(cond)
        else:
            frag_df = spark.createDataFrame(frag_parts, ["bucket", "slab"])

            def _subset(d, frag_df=frag_df):
                return d.join(F.broadcast(frag_df), ["bucket", "slab"], "left_semi")

        subset = _subset(df)
        before = {
            (r["bucket"], r["slab"]): r["count"]
            for r in subset.groupBy("bucket", "slab").count().collect()
        }
        compacted = compact_chunks(
            subset, chunk_points=chunk_points, slab=slab, carry_cols=["bucket", "slab"]
        ).withColumn("run_id", F.lit(run_id))
        write_table(
            compacted, root, partition_by=["bucket", "slab"], mode="overwrite_partitions"
        )
        after = {
            (r["bucket"], r["slab"]): r["count"]
            for r in _subset(spark.read.parquet(root))
            .groupBy("bucket", "slab")
            .count()
            .collect()
        }
        for (b, s), n_before in sorted(before.items()):
            manifest.mark(
                run_id, int(b), "compaction",
                table=f"gorilla_{tier}", slab=str(s),
                chunks_before=int(n_before), chunks_after=int(after.get((b, s), 0)),
            )
        summary[f"gorilla_{tier}"] = {
            "partitions": len(frag_parts),
            "chunks_before": int(sum(before.values())),
            "chunks_after": int(sum(after.values())),
        }
    return summary

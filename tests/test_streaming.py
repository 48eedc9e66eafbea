"""Structured Streaming ingestion: watermarked streaming bucketize must agree
with the batch bucketize on every finalized window, with late arrivals inside
the watermark incorporated and windows near the stream head left open."""
import pyspark.sql.functions as F

from stl_decomp_4j_spark.operators.bucketize import bucketize
from stl_decomp_4j_spark.sources.pages import generate_pages
from stl_decomp_4j_spark.streaming.ingest import read_pages_stream, start_bucket_stream


def test_stream_bucketize_matches_batch(spark, tmp_path):
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "buckets")
    ckpt = str(tmp_path / "ckpt")

    pages = generate_pages(spark, n_urls=8, days=3, events_per_url=60, hot_url_count=1, hot_multiplier=4)
    pages.cache().count()

    # arrival: three time-ordered chunks, but events within 30 minutes of a
    # chunk boundary arrive one batch LATE — inside the 2h watermark, so the
    # stream must still count them
    bounds = pages.agg(F.min("warc_ts").alias("t0"), F.max("warc_ts").alias("t1")).collect()[0]
    t0, t1 = bounds["t0"], bounds["t1"]
    span = (t1 - t0).total_seconds()
    third = F.floor((F.col("warc_ts").cast("long") - F.lit(int(t0.timestamp()))) / F.lit(span / 3 + 1)).cast("int")
    near_boundary = (
        ((F.col("warc_ts").cast("long") - F.lit(int(t0.timestamp()))) % F.lit(int(span / 3 + 1)))
        > F.lit(int(span / 3 + 1) - 1800)
    )
    tagged = pages.withColumn("batch", F.when(near_boundary, third + 1).otherwise(third))

    for i in range(4):
        chunk = tagged.filter(F.col("batch") == i).drop("batch")
        if chunk.count() == 0:
            continue
        chunk.write.mode("append").parquet(src)
        q = start_bucket_stream(read_pages_stream(spark, src), out, ckpt, watermark="2 hours")
        q.awaitTermination(180)

    got = spark.read.parquet(out).groupBy("url", "ts").agg(F.sum("cnt").alias("cnt"))
    batch = bucketize(pages)

    # every emitted (finalized) window must match the batch count exactly
    joined = got.alias("s").join(batch.alias("b"), ["url", "ts"], "left")
    mismatches = joined.filter(
        (F.col("b.cnt").isNull()) | (F.col("s.cnt") != F.col("b.cnt"))
    ).count()
    assert mismatches == 0

    # only windows above the final watermark (max_ts - 2h) may still be open
    open_allowed = batch.filter(
        F.col("ts") >= F.lit(t1) - F.expr("interval 3 hours")
    ).count()
    assert got.count() >= batch.count() - open_allowed
    assert got.count() > 0


def test_stream_gapfill_stateful_across_restarts(spark, tmp_path):
    """applyInPandasWithState gap-fill: dense grid emitted exactly once per
    (url, hour), gaps filled with 0 — including gaps spanning micro-batches,
    a query RESTART (state restored from the checkpoint) and a replay of
    already-emitted buckets."""
    import datetime as dt

    import pyspark.sql.functions as F

    from stl_decomp_4j_spark.streaming.ingest import BUCKET_SCHEMA, stream_gapfill_stateful

    src = str(tmp_path / "bucket_rows")
    out = str(tmp_path / "dense")
    ckpt = str(tmp_path / "gf_ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def rows(hours_counts, url="u1"):
        return [(url, t0 + dt.timedelta(hours=h), c) for h, c in hours_counts]

    # batch 1: hours 0,1,4 observed (2,3 are gaps); url2 hours 0,2
    b1 = rows([(0, 5), (1, 2), (4, 7)]) + rows([(0, 1), (2, 3)], url="u2")
    spark.createDataFrame(b1, BUCKET_SCHEMA).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(BUCKET_SCHEMA).parquet(src)
        q = (
            stream_gapfill_stateful(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    # batch 2 (after a full restart): hours 7,8 for u1 -> 5,6 must be gap rows
    spark.createDataFrame(rows([(7, 4), (8, 1)]), BUCKET_SCHEMA).write.mode("append").parquet(src)
    run_once()
    # batch 3 (a replay): already-emitted buckets of both urls, a stale
    # off-grid u1 bucket (dropped like any row behind the state, before the
    # alignment check) and one new u1 bucket at hour 11 -> 9, 10 are gaps
    replay = rows([(4, 7), (8, 1), (11, 6)]) + rows([(2, 3)], url="u2")
    replay.append(("u1", t0 + dt.timedelta(hours=3, minutes=30), 9))
    spark.createDataFrame(replay, BUCKET_SCHEMA).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out).toPandas()
    u1 = got[got["url"] == "u1"].sort_values("ts")
    hours = [(ts - t0).total_seconds() / 3600 for ts in u1["ts"]]
    assert hours == list(range(12))  # dense, exactly once
    assert list(u1["value"]) == [5.0, 2.0, 0.0, 0.0, 7.0, 0.0, 0.0, 4.0, 1.0, 0.0, 0.0, 6.0]
    u2 = got[got["url"] == "u2"].sort_values("ts")
    assert list(u2["value"]) == [1.0, 0.0, 3.0]


def test_stream_gapfill_rejects_misaligned_buckets(spark, tmp_path):
    """Bucket timestamps off the step grid must fail the query loudly (same
    rule as the batch kernel) instead of floor-dividing counts into
    wrong/shared slots."""
    import datetime as dt

    import pytest

    from stl_decomp_4j_spark.streaming.ingest import BUCKET_SCHEMA, stream_gapfill_stateful

    src = str(tmp_path / "bucket_rows")
    out = str(tmp_path / "dense")
    ckpt = str(tmp_path / "gf_ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [("u1", t0, 5), ("u1", t0 + dt.timedelta(minutes=90), 2)]
    spark.createDataFrame(rows, BUCKET_SCHEMA).write.mode("append").parquet(src)

    stream = spark.readStream.schema(BUCKET_SCHEMA).parquet(src)
    q = (
        stream_gapfill_stateful(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="not aligned"):
        q.awaitTermination(180)


def test_stream_ingest_then_incremental_rollup(spark, tmp_path):
    """End-to-end streaming-append -> periodic-batch story: a file stream
    lands pages into the table the batch rollup reads; after new files
    arrive, an incremental refresh re-runs only the url-hash buckets whose
    data high-water mark advanced."""
    from stl_decomp_4j_spark.pipeline import PipelineConfig, run_pipeline

    incoming = str(tmp_path / "incoming")
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt_ingest")
    out = str(tmp_path / "rollup")

    pages = generate_pages(spark, n_urls=6, days=10, events_per_url=150)
    pages.write.mode("overwrite").parquet(incoming)

    def drain():
        q = (
            read_pages_stream(spark, incoming)
            .writeStream.format("parquet")
            .option("path", landing)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    landed = spark.read.parquet(landing)
    assert landed.count() == pages.count()

    cfg = PipelineConfig(n_buckets=4, compress=False)
    res1 = run_pipeline(spark, landed, out, cfg)
    assert sorted(res1.buckets_run) == [0, 1, 2, 3]

    # new crawl files arrive for one url, 15 days past its history; the
    # stream drains them into the landing table (exactly-once via checkpoint)
    url0 = pages.select("url").orderBy("url").first()["url"]
    target_bucket = (
        pages.filter(F.col("url") == url0)
        .select(F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).cast("int").alias("b"))
        .first()["b"]
    )
    pages.filter(F.col("url") == url0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 15 DAYS")
    ).write.mode("append").parquet(incoming)
    drain()

    res2 = run_pipeline(spark, spark.read.parquet(landing), out, cfg, incremental=True)
    assert res2.buckets_run == [target_bucket]
    assert sorted(res2.buckets_skipped) == sorted(set(range(4)) - {target_bucket})

    # the refreshed tier covers the streamed-in extension
    max_ts = (
        spark.read.parquet(f"{out}/tier_1h")
        .filter(F.col("bucket") == target_bucket)
        .agg(F.max("ts"))
        .first()[0]
    )
    want = (
        spark.read.parquet(landing)
        .filter(F.col("url") == url0)
        .agg(F.date_trunc("hour", F.max("warc_ts")))
        .first()[0]
    )
    assert max_ts == want


def test_stream_snapshot_dedup_matches_batch_across_restart(spark, tmp_path):
    """Streaming snapshot dedup == batch snapshot_dedup on the same in-order
    fingerprint rows, including carried state across a checkpoint restart."""
    from stl_decomp_4j_spark.operators.dedup import simhash, snapshot_dedup
    from stl_decomp_4j_spark.streaming.snapshots import (
        SNAPSHOT_IN_SCHEMA,
        stream_snapshot_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fps = (
        simhash(docs, carry_cols=("source",))
        .select("source", "doc_id", "simhash")
        .toPandas()
        .sort_values("doc_id")
    )
    mid = int(fps["doc_id"].median())

    src = str(tmp_path / "fps")
    out = str(tmp_path / "flags")
    ckpt = str(tmp_path / "snap_ckpt")

    def write_chunk(pdf):
        spark.createDataFrame(pdf, SNAPSHOT_IN_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(SNAPSHOT_IN_SCHEMA).parquet(src)
        q = (
            stream_snapshot_dedup(stream, max_hamming=6)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # chunk 1 (low doc ids), then a full restart with chunk 2 — verdicts that
    # straddle the boundary need the carried (last_id, last_sh) state
    write_chunk(fps[fps["doc_id"] <= mid])
    run_once()
    write_chunk(fps[fps["doc_id"] > mid])
    run_once()

    got = spark.read.parquet(out).toPandas()
    want = snapshot_dedup(docs, max_hamming=6).toPandas()
    key = ["source", "doc_id", "prev_id", "hamming"]
    assert set(map(tuple, got[key].to_numpy())) == set(map(tuple, want[key].to_numpy()))
    assert len(got) == len(want)  # exactly once — no duplicate emissions

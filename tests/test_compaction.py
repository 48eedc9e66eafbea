"""Gorilla-store compaction: merge fragmented chunks back to maximally-filled
ones, touching only fragmented (url, column[, slab]) groups — healthy chunks
pass through byte-identical, a second pass is a no-op (fixpoint), merged
chunks never cross a calendar-slab boundary (retention stays metadata-only).
"""
import datetime as dt
import json
import math
import re

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from stl_decomp_4j_spark.operators.compress import (
    _in_partitions,
    compact_chunks,
    compact_store,
    compress_tier,
    decompress_chunks,
)
from stl_decomp_4j_spark.pipeline import PipelineConfig, run_pipeline
from stl_decomp_4j_spark.sources.catalog import write_table
from stl_decomp_4j_spark.sources.pages import generate_pages


def _hourly_series(spark, start, hours, urls):
    rows = []
    rng = np.random.default_rng(11)
    for u in urls:
        vals = rng.normal(5.0, 1.0, hours)
        for i in range(hours):
            rows.append((u, start + dt.timedelta(hours=i), float(vals[i])))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["url", "ts", "value"]))


def _chunk_set(chunks_df):
    """Comparable identity of every chunk incl. payload bytes."""
    return {
        (r["url"], r["column"], r["t0"], r["t1"], r["n"], bytes(r["chunk"]))
        for r in chunks_df.collect()
    }


def _decoded(chunks_df):
    return (
        decompress_chunks(chunks_df)
        .toPandas()
        .sort_values(["url", "column", "ts_ms"])
        .reset_index(drop=True)
    )


def test_compact_chunks_merges_passthrough_fixpoint(spark):
    # Jan 25 -> Feb 8: each url has 168 pts in January, 168 in February
    start = dt.datetime(2025, 1, 25)
    frag = compress_tier(
        _hourly_series(spark, start, hours=24 * 14, urls=["a", "b"]),
        chunk_points=24, slab="month",
    )
    healthy = compress_tier(
        _hourly_series(spark, start, hours=24 * 14, urls=["c"]),
        chunk_points=96, slab="month",
    )
    inp = frag.unionByName(healthy)
    before_rows = _decoded(inp)
    healthy_set = _chunk_set(healthy)

    out = compact_chunks(inp, chunk_points=96, slab="month")
    out_set = _chunk_set(out)

    # healthy url 'c' chunks pass through byte-identical (no re-encode)
    assert healthy_set <= out_set

    # fragmented groups packed to the minimum chunk count per (url, month):
    # ceil(168/96) = 2 chunks per url per month
    counts = (
        out.groupBy("url", "column", F.date_trunc("month", "t0").alias("m"))
        .count().collect()
    )
    assert counts and all(r["count"] == math.ceil(168 / 96) for r in counts)

    # no merged chunk crosses a month boundary
    for r in out.select("t0", "t1").collect():
        assert (r["t0"].year, r["t0"].month) == (r["t1"].year, r["t1"].month)

    # decoded points identical
    pd.testing.assert_frame_equal(_decoded(out), before_rows)

    # fixpoint: a second pass returns the same chunk set byte-for-byte
    assert _chunk_set(compact_chunks(out, chunk_points=96, slab="month")) == out_set

    # without a slab constraint, months merge too: ceil(336/96) = 4 per url
    flat = compact_chunks(frag, chunk_points=96)
    flat_counts = flat.groupBy("url", "column").count().collect()
    assert flat_counts and all(r["count"] == math.ceil(336 / 96) for r in flat_counts)
    pd.testing.assert_frame_equal(_decoded(flat), _decoded(frag))


# slab -> points of 14 hourly days from Wed 2025-01-01 in each of its slabs
SLAB_POINTS = {"month": [336], "week": [120, 168, 48], "day": [24] * 14}


@pytest.mark.parametrize("slab", list(SLAB_POINTS))
def test_sink_stages_carry_runs_across_arrow_batches(spark, arrow_batch_rows, slab):
    """compress_tier ((url, slab) runs) and compact_chunks ((url, column,
    slab) runs) hold a batch's last run back for the next batch: at 7-row
    Arrow batches every run spans several batches, and the chunk sets,
    payload bytes included, must equal the default batch size's."""
    series = _hourly_series(spark, dt.datetime(2025, 1, 1), hours=24 * 14, urls=list("abcde"))

    def chunk_sets():
        frag = compress_tier(series, chunk_points=24, slab=slab)
        return _chunk_set(frag), _chunk_set(compact_chunks(frag, chunk_points=96, slab=slab))

    frag, merged = chunk_sets()
    merged_per_url = sum(math.ceil(n / 96) for n in SLAB_POINTS[slab])
    assert (len(frag), len(merged)) == (5 * 14, 5 * merged_per_url)
    with arrow_batch_rows(7):
        assert chunk_sets() == (frag, merged)


def test_compact_chunks_rejects_overlapping_runs(spark):
    series = _hourly_series(spark, dt.datetime(2025, 3, 1), hours=48, urls=["a"])
    chunks = compress_tier(series, chunk_points=8)
    dup = chunks.unionByName(chunks)  # same time range twice -> not mergeable
    with pytest.raises(Exception, match="not strictly increasing"):
        compact_chunks(dup, chunk_points=4096).collect()


@pytest.fixture
def in_set_threshold(spark, request):
    """Runs a test at spark.sql.optimizer.inSetConversionThreshold = the
    test's parameter, restored afterwards."""
    key = "spark.sql.optimizer.inSetConversionThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(request.param))
    try:
        yield request.param
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("in_set_threshold", [1000, 0], indirect=True)
def test_compact_store_end_to_end(spark, tmp_path, plan_of, in_set_threshold):
    """Pipeline store -> artificially fragmented gorilla_1d -> compact_store
    rewrites only fragmented partitions, preserves decoded bytes, records
    lineage, keeps slab alignment, and a second pass finds nothing.

    Parametrized over both forms Spark gives the struct-IN partition
    predicate: a literal IN while the partition list is within
    inSetConversionThreshold (1000), and the hash INSET it becomes past it
    (0 forces it) — the form at stores with more than 10 fragmented
    partitions under Spark's default threshold."""
    out = str(tmp_path / "rollup")
    pages = generate_pages(spark, n_urls=4, days=40, events_per_url=200)
    run_pipeline(spark, pages, out, PipelineConfig(n_buckets=2, compress=True))

    root = f"{out}/gorilla_1d"
    baseline_rows = _decoded(spark.read.parquet(root))

    # fragment the 1d store the way a pathological incremental rewrite would:
    # re-encode every bucket at chunk_points=4 (same slab-aligned layout)
    t1d = spark.read.parquet(f"{out}/tier_1d")
    comp_cols = ["sum_value", "sum_trend", "sum_seasonal", "sum_residual"]
    for b in sorted(r[0] for r in t1d.select("bucket").distinct().collect()):
        mat = t1d.filter(F.col("bucket") == b).select("url", "ts", *comp_cols)
        ch = (
            compress_tier(mat, chunk_points=4, slab="month")
            .withColumn("run_id", F.lit("fragtest"))
            .withColumn("bucket", F.lit(int(b)))
        )
        ch = ch.withColumn(
            "slab", F.date_format(F.date_trunc("month", "t0"), "yyyy-MM-dd")
        )
        write_table(ch, root, partition_by=["bucket", "slab"],
                    mode="overwrite_partitions")
    frag_count = spark.read.parquet(root).count()
    assert frag_count > len(baseline_rows.groupby(["url", "column"]))
    parts = spark.read.parquet(root).select("bucket", "slab").distinct().collect()
    assert len(parts) >= 2
    form = "INSET" if in_set_threshold == 0 else "IN ("
    plan = plan_of(spark.read.parquet(root).filter(_in_partitions(parts)))
    scan = r"PartitionFilters: \[struct\(bucket, bucket#\d+, slab, slab#\d+\) "
    assert re.search(scan + re.escape(form), plan), plan
    pd.testing.assert_frame_equal(_decoded(spark.read.parquet(root)), baseline_rows)

    summary = compact_store(spark, out, tiers=("1d",))
    s = summary["gorilla_1d"]
    assert s["partitions"] > 0
    assert s["chunks_after"] < s["chunks_before"] == frag_count

    after = spark.read.parquet(root)
    assert after.count() == s["chunks_after"]
    # decoded points byte-identical to the pre-fragmentation store
    pd.testing.assert_frame_equal(_decoded(after), baseline_rows)
    # slab alignment preserved: chunk t0's month == its slab partition value
    bad = after.filter(
        F.date_format(F.date_trunc("month", "t0"), "yyyy-MM-dd")
        != F.col("slab").cast("string")
    ).count()
    assert bad == 0

    # lineage rows with before/after chunk counts
    rows = [
        json.loads(l)
        for l in (tmp_path / "rollup" / "manifest.jsonl").read_text().splitlines()
    ]
    comp = [r for r in rows if r["status"] == "compaction" and r["table"] == "gorilla_1d"]
    assert comp and sum(r["chunks_before"] for r in comp) == s["chunks_before"]
    assert sum(r["chunks_after"] for r in comp) == s["chunks_after"]
    assert all(r["chunks_after"] <= r["chunks_before"] for r in comp)

    # fixpoint: nothing left to compact anywhere in the store
    again = compact_store(spark, out, tiers=("1h", "1d", "1w"))
    assert again["gorilla_1d"] == {"partitions": 0}

    # retention still works on the compacted store (slab metadata intact):
    # manifest-recorded granularity is month, January is droppable
    from stl_decomp_4j_spark.operators.retention import apply_retention

    dropped = apply_retention(out, {"1d": 8}, now=dt.datetime(2025, 2, 10))
    assert "gorilla_1d" in dropped
    min_ms = (
        decompress_chunks(spark.read.parquet(root)).agg(F.min("ts_ms")).first()[0]
    )
    assert min_ms >= int(dt.datetime(2025, 2, 1).timestamp() * 1000)


def test_week_slab_store_end_to_end(spark, tmp_path):
    """A slab='week' store: every tier and Gorilla partition is a Monday
    week slab, compact_store keeps merged chunks inside their week, and
    retention drops whole expired weeks — both read 'week' from the store's
    params.json (a month reading would merge and keep across weeks)."""
    from stl_decomp_4j_spark.operators.retention import apply_retention

    out = str(tmp_path / "rollup")
    pages = generate_pages(spark, n_urls=4, days=21, events_per_url=200)
    run_pipeline(spark, pages, out, PipelineConfig(n_buckets=2, slab="week"))

    def slabs(table):
        df = spark.read.parquet(f"{out}/{table}")
        return {r[0] for r in df.select(F.col("slab").cast("string")).distinct().collect()}

    weeks = {"2024-12-30", "2025-01-06", "2025-01-13", "2025-01-20"}
    assert all(dt.date.fromisoformat(w).weekday() == 0 for w in weeks)  # Mondays
    assert slabs("tier_1h") == slabs("gorilla_1h") == weeks
    for t in ("1d", "1w"):
        assert slabs(f"tier_{t}") <= weeks and slabs(f"gorilla_{t}") <= weeks

    # fragment the 1h store: re-encode every bucket at chunk_points=24
    root = f"{out}/gorilla_1h"
    baseline = _decoded(spark.read.parquet(root))
    t1h = spark.read.parquet(f"{out}/tier_1h")
    buckets = sorted(r[0] for r in t1h.select("bucket").distinct().collect())
    for b in buckets:
        mat = t1h.filter(F.col("bucket") == b).select("url", "ts", "value", "trend", "seasonal", "residual")
        ch = (
            compress_tier(mat, chunk_points=24, slab="week")
            .withColumn("run_id", F.lit("fragtest"))
            .withColumn("bucket", F.lit(int(b)))
            .withColumn("slab", F.date_format(F.date_trunc("week", "t0"), "yyyy-MM-dd"))
        )
        write_table(ch, root, partition_by=["bucket", "slab"], mode="overwrite_partitions")
    frag = spark.read.parquet(root).count()

    s = compact_store(spark, out, tiers=("1h",))["gorilla_1h"]
    after = spark.read.parquet(root)
    assert after.count() == s["chunks_after"] < s["chunks_before"] == frag
    pd.testing.assert_frame_equal(_decoded(after), baseline)
    def week_of(c):
        return F.date_format(F.date_trunc("week", c), "yyyy-MM-dd")

    slab = F.col("slab").cast("string")
    assert after.filter((week_of("t0") != slab) | (week_of("t1") != slab)).count() == 0

    # keep 7 days of 1h at Jan 20: cutoff Jan 12 23:00, so only the week of
    # Dec 30 (ends Jan 6) is wholly expired; the week of Jan 6 ends after it
    dropped = apply_retention(out, {"1h": 7}, now=dt.datetime(2025, 1, 20))
    want = sorted(f"bucket={b}/slab=2024-12-30" for b in buckets)
    assert sorted(dropped["tier_1h"]) == sorted(dropped["gorilla_1h"]) == want
    assert slabs("tier_1h") == slabs("gorilla_1h") == weeks - {"2024-12-30"}
    assert spark.read.parquet(f"{out}/tier_1h").agg(F.min("ts")).first()[0] >= dt.datetime(2025, 1, 6)


def test_compact_store_subset_scan_prunes_partitions(spark, tmp_path, plan_of):
    """compact_store selects the fragmented (bucket, slab) partitions with
    one struct IN over the partition columns: it lands in the scan's
    PartitionFilters, so only those partitions' files are listed and read."""
    chunks = compress_tier(
        _hourly_series(spark, dt.datetime(2025, 1, 25), hours=24 * 14, urls=["a", "b"]),
        chunk_points=24, slab="month",
    )
    root = str(tmp_path / "gorilla")
    write_table(
        chunks.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(2)).cast("int"))
        .withColumn("slab", F.date_format(F.date_trunc("month", "t0"), "yyyy-MM-dd")),
        root, partition_by=["bucket", "slab"], mode="overwrite_partitions",
    )
    store = spark.read.parquet(root)
    parts = sorted({(r["bucket"], r["slab"]) for r in store.select("bucket", "slab").collect()})
    assert len(parts) >= 3
    subset = store.filter(_in_partitions(parts[:1]))
    plan = plan_of(subset)
    assert re.search(r"PartitionFilters: \[struct\(bucket, bucket#\d+, slab, slab#\d+\) IN \(", plan), plan
    assert ") Filter" not in plan, plan  # nothing left for a row filter
    assert {(r["bucket"], r["slab"]) for r in subset.select("bucket", "slab").collect()} == set(parts[:1])

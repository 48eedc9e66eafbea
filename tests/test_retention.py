"""Metadata-only retention: slab-aligned Gorilla chunks, (bucket, slab)
partition layout, and whole-slab expiry that never under-retains."""
import datetime as dt
import json

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from stl_decomp_4j_spark.operators.compress import compress_tier, decompress_chunks
from stl_decomp_4j_spark.operators.retention import (
    apply_retention,
    expired_slab_dirs,
    slab_end,
)
from stl_decomp_4j_spark.pipeline import PipelineConfig, run_pipeline
from stl_decomp_4j_spark.sources.pages import generate_pages


def test_slab_end_arithmetic():
    assert slab_end(dt.datetime(2024, 1, 1), "month") == dt.datetime(2024, 2, 1)
    assert slab_end(dt.datetime(2024, 12, 1), "month") == dt.datetime(2025, 1, 1)
    assert slab_end(dt.datetime(2024, 1, 29), "week") == dt.datetime(2024, 2, 5)
    assert slab_end(dt.datetime(2024, 2, 28), "day") == dt.datetime(2024, 2, 29)
    with pytest.raises(ValueError):
        slab_end(dt.datetime(2024, 1, 1), "fortnight")


def _hourly_series(spark, start, hours, n_urls=2):
    rows = []
    rng = np.random.default_rng(3)
    for u in range(n_urls):
        vals = rng.normal(10.0 * u, 1.0, hours)
        for i in range(hours):
            rows.append((f"url{u}", start + dt.timedelta(hours=i), float(vals[i])))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["url", "ts", "value"]))


def test_slab_aligned_chunks_roundtrip(spark):
    """With slab='month' every chunk lies wholly inside one calendar month,
    and the decoded rows are identical to the unaligned layout's."""
    start = dt.datetime(2025, 1, 20)
    series = _hourly_series(spark, start, hours=24 * 22)  # Jan 20 -> Feb 11
    aligned = compress_tier(series, chunk_points=100, slab="month")
    chunks = aligned.collect()
    assert len(chunks) > 4
    months = set()
    for c in chunks:
        assert (c["t0"].year, c["t0"].month) == (c["t1"].year, c["t1"].month), c
        months.add((c["t0"].year, c["t0"].month))
    assert months == {(2025, 1), (2025, 2)}

    def rows(chunks_df):
        return (
            decompress_chunks(chunks_df).toPandas()
            .sort_values(["url", "ts_ms"]).reset_index(drop=True)
        )

    plain = compress_tier(series, chunk_points=100)
    pd.testing.assert_frame_equal(rows(aligned), rows(plain))


def test_expired_slab_dirs_grace(tmp_path):
    root = tmp_path / "tier_x"
    for slab in ("2025-01-01", "2025-02-01", "2025-03-01"):
        (root / "bucket=0" / f"slab={slab}").mkdir(parents=True)
    # cutoff exactly at Feb 1: January (ends Feb 1) is wholly expired,
    # February is not
    got = expired_slab_dirs(str(root), dt.datetime(2025, 2, 1), "month")
    assert [(b, v) for b, v, _ in got] == [(0, "2025-01-01")]
    # one microsecond earlier: nothing is wholly expired
    got = expired_slab_dirs(
        str(root), dt.datetime(2025, 1, 31, 23, 59, 59, 999999), "month"
    )
    assert got == []


def test_pipeline_retention_end_to_end(spark, tmp_path):
    """Full pipeline -> retention drop of the 1h tier's expired month slabs:
    old slabs vanish from tier AND gorilla tables (metadata-only), coarser
    tiers are untouched, lineage records the drops, and a later incremental
    run does not resurrect dropped data."""
    out = str(tmp_path / "rollup")
    pages = generate_pages(spark, n_urls=6, days=75, events_per_url=300)
    cfg = PipelineConfig(n_buckets=2, compress=True)  # slab defaults to month
    res = run_pipeline(spark, pages, out, cfg)
    assert sorted(res.buckets_run) == [0, 1]

    # tier-routed serving over the on-disk store: a month request is
    # answered from the 1d tier table
    from jobs.query_job import serve_query

    sq = serve_query(spark, out, "month")
    assert sq["served_from"] == "1d"
    want_groups = (
        spark.read.parquet(f"{out}/tier_1d")
        .select("url", F.date_trunc("month", "ts")).distinct().count()
    )
    assert sq["rows"] == want_groups > 0

    t1h = spark.read.parquet(f"{out}/tier_1h")
    assert "slab" in t1h.columns
    slabs_before = {r[0] for r in t1h.select(F.col("slab").cast("string")).distinct().collect()}
    assert slabs_before == {"2025-01-01", "2025-02-01", "2025-03-01"}
    rows_1d_before = spark.read.parquet(f"{out}/tier_1d").count()
    rows_1w_before = spark.read.parquet(f"{out}/tier_1w").count()

    # keep ~44 days of 1h: now = Mar 17, cutoff Feb 1 (+1h grace) -> only
    # the January slab is wholly expired
    now = dt.datetime(2025, 3, 17)
    dropped = apply_retention(out, {"1h": 43}, now=now)
    assert sorted(dropped) == ["gorilla_1h", "tier_1h"]
    assert sorted(dropped["tier_1h"]) == [
        "bucket=0/slab=2025-01-01", "bucket=1/slab=2025-01-01"
    ]

    t1h_after = spark.read.parquet(f"{out}/tier_1h")
    assert {r[0] for r in t1h_after.select(F.col("slab").cast("string")).distinct().collect()} == {
        "2025-02-01", "2025-03-01"
    }
    assert t1h_after.agg(F.min("ts")).first()[0] >= dt.datetime(2025, 2, 1)

    # the gorilla store still decodes, and only to surviving-slab points
    back = decompress_chunks(spark.read.parquet(f"{out}/gorilla_1h"))
    min_ms = back.agg(F.min("ts_ms")).first()[0]
    assert min_ms >= int(dt.datetime(2025, 2, 1).timestamp() * 1000)

    # coarser tiers untouched
    assert spark.read.parquet(f"{out}/tier_1d").count() == rows_1d_before
    assert spark.read.parquet(f"{out}/tier_1w").count() == rows_1w_before

    # lineage rows recorded
    rows = [
        json.loads(l) for l in (tmp_path / "rollup" / "manifest.jsonl").read_text().splitlines()
    ]
    ret = [r for r in rows if r["status"] == "retention"]
    assert {(r["table"], r["bucket"], r["slab"]) for r in ret} == {
        ("tier_1h", 0, "2025-01-01"), ("tier_1h", 1, "2025-01-01"),
        ("gorilla_1h", 0, "2025-01-01"), ("gorilla_1h", 1, "2025-01-01"),
    }

    # incremental refresh with unchanged data: buckets skip, dropped slabs
    # stay dropped (retention is durable under the refresh loop)
    res2 = run_pipeline(spark, pages, out, cfg, incremental=True)
    assert res2.buckets_run == []
    assert {r[0] for r in spark.read.parquet(f"{out}/tier_1h").select(F.col("slab").cast("string")).distinct().collect()} == {
        "2025-02-01", "2025-03-01"
    }

    # unknown tier in the policy fails loudly
    with pytest.raises(ValueError, match="unknown tiers"):
        apply_retention(out, {"2h": 10}, now=now)

    # a root with no store (no params.json to read the slab from) is refused
    with pytest.raises(ValueError, match="has no params.json"):
        apply_retention(str(tmp_path / "nostore"), {"1h": 1}, now=now)

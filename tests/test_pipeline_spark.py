"""End-to-end Spark pipeline tests: synthetic pages table -> bucketize ->
gap-fill -> STL -> tiers -> Gorilla sink, compared exactly against a local
pandas/NumPy reference run of the same core (SURVEY.md §5 engine test plan),
plus checkpoint/resume and the text byte-identity invariant."""
import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from stl_decomp_4j_spark.operators.bucketize import bucketize
from stl_decomp_4j_spark.operators.compress import compress_tier, decompress_chunks
from stl_decomp_4j_spark.operators.gapfill import gapfill
from stl_decomp_4j_spark.operators.rollup import build_tiers
from stl_decomp_4j_spark.operators.stl_udf import stl_decompose_sparse_df
from stl_decomp_4j_spark.pipeline import PipelineConfig, run_pipeline
from stl_decomp_4j_spark.sources.pages import generate_pages, text_digests

N_URLS = 12
DAYS = 21


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, n_urls=N_URLS, days=DAYS, events_per_url=400, hot_url_count=2, hot_multiplier=16)
    df.cache().count()
    return df


def test_pages_schema_and_determinism(spark, pages):
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert types == {
        "url": "string", "warc_ts": "timestamp", "html": "binary", "text": "string", "lang": "string",
    }
    # deterministic under different parallelism
    again = generate_pages(
        spark, n_urls=N_URLS, days=DAYS, events_per_url=400, hot_url_count=2, hot_multiplier=16, partitions=3
    )
    a = pages.groupBy().agg(F.expr("bit_xor(xxhash64(url, warc_ts, text, lang))").alias("h")).collect()[0]["h"]
    b = again.groupBy().agg(F.expr("bit_xor(xxhash64(url, warc_ts, text, lang))").alias("h")).collect()[0]["h"]
    assert a == b
    # text is a pure function of url
    assert text_digests(pages).filter(F.col("n_digests") != 1).count() == 0


def test_bucketize_and_gapfill_dense(spark, pages):
    buckets = bucketize(pages)
    series = gapfill(buckets)
    pdf = series.toPandas().sort_values(["url", "ts"])
    for url, g in pdf.groupby("url"):
        diffs = g["ts"].diff().dropna().dt.total_seconds()
        assert (diffs == 3600).all(), f"grid not dense for {url}"
    # gap-filled totals preserve observed counts
    assert pdf["value"].sum() == pages.count()


@pytest.mark.parametrize("robust", [False, True], ids=["nonrobust", "robust"])
@pytest.mark.parametrize(
    "granularity,period,width", [("hour", 24, 35), ("day", 7, 7), ("week", 4, 7)],
    ids=["hour", "day", "week"],
)
def test_stl_kernel_matches_gapfill_and_local_stl(spark, pages, granularity, period, width, robust):
    """The one STL kernel gap-fills inside the grouped map.  Bit for bit, its
    (url, ts, value) grid is gapfill()'s, and its components are in-process
    decompose() of that grid per url.  The week grid (at most 4 slots) is
    shorter than 2*period, so that case pins the degrade rule: trend=value,
    seasonal=residual=0, weight=1."""
    from stl_decomp_4j_spark.stl import decompose

    buckets = bucketize(pages, granularity=granularity)
    grid = (
        gapfill(buckets, granularity=granularity)
        .toPandas().sort_values(["url", "ts"]).reset_index(drop=True)
    )
    got = (
        stl_decompose_sparse_df(
            buckets, period=period, granularity=granularity, seasonal_width=width, robust=robust
        )
        .toPandas().sort_values(["url", "ts"]).reset_index(drop=True)
    )
    assert len(got) == len(grid) > 0
    assert (got["url"] == grid["url"]).all()
    assert (got["ts"] == grid["ts"]).all()
    assert np.array_equal(got["value"].to_numpy(), grid["value"].to_numpy())
    for url, g in grid.groupby("url"):
        y = g["value"].to_numpy(dtype=float)
        if len(y) >= 2 * period:
            d = decompose(y, period, seasonal_width=width, robust=robust)
            want = {"trend": d.trend, "seasonal": d.seasonal, "residual": d.residual, "weight": d.weights}
        else:
            want = {"trend": y, "seasonal": 0.0 * y, "residual": 0.0 * y, "weight": 1.0 + 0.0 * y}
        sub = got.loc[g.index]
        for col, w in want.items():
            assert np.array_equal(sub[col].to_numpy(), w), (url, col)


def test_stl_kernel_carries_url_runs_across_arrow_batches(spark, pages, arrow_batch_rows):
    """With 7-row Arrow batches every url spans several batches, so the
    kernel's held-back last run is exercised on every batch: the output
    must still equal in-process decompose() bit for bit, with no url
    decomposed twice."""
    with arrow_batch_rows(7):
        test_stl_kernel_matches_gapfill_and_local_stl(spark, pages, "hour", 24, 35, True)
        got = stl_decompose_sparse_df(bucketize(pages), period=24, seasonal_width=35)
        assert got.groupBy("url", "ts").count().filter(F.col("count") > 1).count() == 0


def test_stl_kernel_plan(spark, plan_of, pages):
    """The STL stage is one sorted Arrow map: a numbered url repartition
    (REPARTITION_BY_NUM, which AQE never coalesces) at one task per core,
    then a (url, ts) sort, then MapInArrow.  Exactly two exchanges: the
    bucketize shuffle carries partial-aggregated rows, the url repartition
    only the reduced buckets.  The gap-fill runs in the kernel, so there is
    no grid explode and no join."""
    import re

    plan = plan_of(stl_decompose_sparse_df(bucketize(pages), period=24, seasonal_width=35))
    n = spark.sparkContext.defaultParallelism
    assert ") MapInArrow" in plan and "FlatMapGroupsInPandas" not in plan, plan
    assert re.search(rf"hashpartitioning\(url#\d+, {n}\), REPARTITION_BY_NUM", plan), plan
    assert re.search(r"Arguments: \[url#\d+ ASC NULLS FIRST, ts#\d+ ASC NULLS FIRST\]", plan), plan
    assert plan.count(") Exchange") == 2, plan  # node headers, not tree lines
    assert "Generate" not in plan and "Join" not in plan, plan


def test_tiers_exact_vs_pandas(spark, pages):
    decomposed = stl_decompose_sparse_df(bucketize(pages), period=24, seasonal_width=35)
    tiers = build_tiers(decomposed)
    t1d = tiers["1d"].toPandas().sort_values(["url", "ts"]).reset_index(drop=True)
    pdf = decomposed.toPandas()
    pdf["day"] = pdf["ts"].dt.floor("D")
    ref = pdf.groupby(["url", "day"]).agg(
        sum_trend=("trend", "sum"), min_trend=("trend", "min"), max_trend=("trend", "max"), cnt=("trend", "size")
    ).reset_index()
    merged = t1d.merge(ref, left_on=["url", "ts"], right_on=["url", "day"], suffixes=("", "_ref"))
    assert len(merged) == len(t1d) == len(ref)
    assert np.allclose(merged["sum_trend"], merged["sum_trend_ref"], rtol=0, atol=1e-9)
    assert np.array_equal(merged["min_trend"].to_numpy(), merged["min_trend_ref"].to_numpy())
    assert (merged["cnt"] == merged["cnt_ref"]).all()
    # week tier from day tier: totals conserved exactly in sum&cnt space
    t1w = tiers["1w"].toPandas()
    assert t1w["cnt"].sum() == len(pdf)
    assert abs(t1w["sum_value"].sum() - pdf["value"].sum()) < 1e-6


def test_gorilla_chunks_roundtrip_via_spark(spark, pages):
    decomposed = stl_decompose_sparse_df(bucketize(pages), period=24, seasonal_width=35)
    tier = build_tiers(decomposed)["1h"].select("url", "ts", "value", "trend")
    chunks = compress_tier(tier)
    back = decompress_chunks(chunks).toPandas()
    orig = tier.toPandas()
    for col in ("value", "trend"):
        got = back[back["column"] == col].sort_values(["url", "ts_ms"])["value"].to_numpy()
        want = orig.sort_values(["url", "ts"])[col].to_numpy()
        assert np.array_equal(got, want)


def test_compress_presorted_matches_shuffled_path(spark, pages, tmp_path):
    """presorted=True (no repartition+sort — valid on the materialized 1h
    tier, which preserves the STL stage's url grouping and grid order) must
    decode to exactly the same rows as the shuffling path."""
    decomposed = stl_decompose_sparse_df(bucketize(pages), period=24, seasonal_width=35)
    path = str(tmp_path / "t1h")
    build_tiers(decomposed)["1h"].write.parquet(path)
    mat = spark.read.parquet(path).select("url", "ts", "value", "trend")

    def decode(chunks):
        return (
            decompress_chunks(chunks)
            .toPandas()
            .sort_values(["url", "column", "ts_ms"])
            .reset_index(drop=True)
        )

    a = decode(compress_tier(mat))
    b = decode(compress_tier(mat, presorted=True))
    pd.testing.assert_frame_equal(a, b)


def test_pruned_range_read_decodes_only_needed_chunks(spark, pages):
    """read_range must decode exactly the chunks overlapping the url+time
    predicate (counted via accumulator), and return the same rows as
    filtering the uncompressed tier."""
    from stl_decomp_4j_spark.operators.compress import prune_chunks, read_range

    series = gapfill(bucketize(pages)).select("url", "ts", "value")
    # small slabs so each url has many time chunks to prune between
    chunks = compress_tier(series, chunk_points=48)
    chunks.cache().count()
    bounds = series.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1")).collect()[0]
    url0 = series.select("url").orderBy("url").first()["url"]
    import datetime as dt

    ts_min = bounds["t0"] + dt.timedelta(days=4)
    ts_max = bounds["t0"] + dt.timedelta(days=8)

    pruned_n = prune_chunks(chunks, urls=[url0], ts_min=ts_min, ts_max=ts_max).count()
    total_n = chunks.count()
    assert 0 < pruned_n < total_n / 2  # both url and time pruning engaged

    acc = spark.sparkContext.accumulator(0)
    got = (
        read_range(chunks, urls=[url0], ts_min=ts_min, ts_max=ts_max, decode_counter=acc)
        .toPandas().sort_values("ts_ms").reset_index(drop=True)
    )
    assert acc.value == pruned_n  # decoded exactly the chunks in range

    want = (
        series.filter((F.col("url") == url0) & (F.col("ts") >= ts_min) & (F.col("ts") <= ts_max))
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert np.array_equal(got["value"].to_numpy(), want["value"].to_numpy())
    assert np.array_equal(
        got["ts_ms"].to_numpy(), want["ts"].astype("datetime64[ms]").astype("int64").to_numpy()
    )
    chunks.unpersist()


def test_full_pipeline_with_resume(spark, pages, tmp_path):
    out = str(tmp_path / "rollup")
    cfg = PipelineConfig(n_buckets=4, compress=True)
    res1 = run_pipeline(spark, pages, out, cfg)
    assert len(res1.buckets_run) == 4
    assert res1.rows_per_tier["1h"] > res1.rows_per_tier["1d"] > res1.rows_per_tier["1w"] > 0

    # lineage rows carry per-bucket throughput (points_per_sec) so a scale
    # operator can spot a collapsed stage from the manifest alone
    import json

    done_rows = [
        json.loads(l)
        for l in (tmp_path / "rollup" / "manifest.jsonl").read_text().splitlines()
        if json.loads(l)["status"] == "done"
    ]
    assert len(done_rows) == 4
    for r in done_rows:
        assert r["points_per_sec"] > 0
        assert abs(r["points_per_sec"] - r["points"] / r["wall_s"]) < 1e-6

    # resume: everything done -> nothing re-runs, outputs unchanged
    before = spark.read.parquet(f"{out}/tier_1d").toPandas().sort_values(["url", "ts"]).reset_index(drop=True)
    res2 = run_pipeline(spark, pages, out, cfg, incremental=True)
    assert res2.buckets_run == [] and len(res2.buckets_skipped) == 4
    after = spark.read.parquet(f"{out}/tier_1d").toPandas().sort_values(["url", "ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        before.drop(columns=["run_id"]), after.drop(columns=["run_id"])
    )

    # partial resume: wipe 2 buckets from the manifest -> only those re-run
    manifest = tmp_path / "rollup" / "manifest.jsonl"
    lines = [l for l in manifest.read_text().splitlines() if '"bucket": 0' not in l and '"bucket": 1' not in l]
    manifest.write_text("\n".join(lines) + "\n")
    res3 = run_pipeline(spark, pages, out, cfg, incremental=True)
    assert sorted(res3.buckets_run) == [0, 1]
    assert sorted(res3.buckets_skipped) == [2, 3]
    final = spark.read.parquet(f"{out}/tier_1d").toPandas().sort_values(["url", "ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        before.drop(columns=["run_id"]), final.drop(columns=["run_id"])
    )

    # read-side CLI over the store this pipeline just wrote: pruning engages
    # on url+column, and the decoded rows equal the materialized tier's
    from jobs.query_job import run_query

    url0 = pages.select("url").orderBy("url").first()["url"]
    q = run_query(spark, out, tier="1h", urls=[url0], columns=["trend"])
    assert 0 < q["chunks_decoded"] < q["chunks_total"]
    want_rows = (
        spark.read.parquet(f"{out}/tier_1h").filter(F.col("url") == url0).count()
    )
    assert q["rows"] == want_rows > 0


def test_incremental_recompute_only_touched_buckets(spark, pages, tmp_path):
    """Streaming-append -> periodic-batch mode: after a full run, an
    incremental run re-runs only buckets whose data high-water mark
    (max(warc_ts), recorded per done row) advanced; untouched buckets keep
    their outputs byte-for-byte."""
    out = str(tmp_path / "rollup_inc")
    cfg = PipelineConfig(n_buckets=4, compress=False)
    res1 = run_pipeline(spark, pages, out, cfg)
    assert sorted(res1.buckets_run) == [0, 1, 2, 3]

    # same input again -> every bucket's high-water mark is unchanged
    res2 = run_pipeline(spark, pages, out, cfg, incremental=True)
    assert res2.buckets_run == [] and len(res2.buckets_skipped) == 4

    # append fresh crawls of one url, 30 days past the end of its history;
    # text stays a pure function of url so the byte-identity invariant holds
    url0 = pages.select("url").orderBy("url").first()["url"]
    target_bucket = (
        pages.filter(F.col("url") == url0)
        .select(F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).cast("int").alias("b"))
        .first()["b"]
    )
    appended = pages.filter(F.col("url") == url0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS")
    )
    pages2 = pages.unionByName(appended)

    before = {
        b: spark.read.parquet(f"{out}/tier_1d")
        .filter(F.col("bucket") == b)
        .drop("run_id")
        .toPandas()
        .sort_values(["url", "ts"])
        .reset_index(drop=True)
        for b in range(cfg.n_buckets)
    }
    res3 = run_pipeline(spark, pages2, out, cfg, incremental=True)
    assert res3.buckets_run == [target_bucket]
    assert sorted(res3.buckets_skipped) == sorted(set(range(4)) - {target_bucket})

    # untouched buckets byte-identical; the touched bucket's series extends
    for b in range(cfg.n_buckets):
        after = (
            spark.read.parquet(f"{out}/tier_1d")
            .filter(F.col("bucket") == b)
            .drop("run_id")
            .toPandas()
            .sort_values(["url", "ts"])
            .reset_index(drop=True)
        )
        if b == target_bucket:
            assert after["ts"].max() > before[b]["ts"].max()
            assert len(after) > len(before[b])
        else:
            pd.testing.assert_frame_equal(before[b], after)

    # manifest rows carry the high-water mark for the next incremental run
    import json

    rows = [
        json.loads(l)
        for l in (tmp_path / "rollup_inc" / "manifest.jsonl").read_text().splitlines()
        if json.loads(l)["status"] == "done"
    ]
    assert all(r.get("data_max_ts") for r in rows)
    marks = {}
    for r in rows:  # manifest is append-only: last row per bucket wins
        marks[r["bucket"]] = r["data_max_ts"]
    # the re-run bucket's recorded mark is the appended url's new max ts
    assert marks[target_bucket] == int(
        pages2.filter(F.col("url") == url0).agg(F.max(F.unix_timestamp("warc_ts"))).first()[0]
    )


def test_store_refuses_other_params_and_unrecorded_roots(spark, pages, tmp_path):
    """The store records its config in params.json.  A re-run with any other
    layout or STL parameter, full or incremental, raises before writing, so
    no stale partition of the old layout sits beside new ones; a root whose
    params.json is missing is refused by every store call."""
    import datetime as dt
    import re
    from dataclasses import replace

    from stl_decomp_4j_spark.operators.compress import compact_store
    from stl_decomp_4j_spark.operators.retention import apply_retention

    out = str(tmp_path / "rollup")
    cfg = PipelineConfig(n_buckets=2)
    run_pipeline(spark, pages, out, cfg)
    t1h = spark.read.parquet(f"{out}/tier_1h")
    n_rows = t1h.count()
    assert n_rows == t1h.select("url", "ts").distinct().count() > 0

    for changed in (dict(n_buckets=1), dict(slab="week"), dict(robust=True)):
        for incremental in (False, True):
            with pytest.raises(ValueError, match=f"tier store {re.escape(out)} .*mismatch on {next(iter(changed))}"):
                run_pipeline(spark, pages, out, replace(cfg, **changed), incremental=incremental)
    t1h = spark.read.parquet(f"{out}/tier_1h")
    assert t1h.count() == t1h.select("url", "ts").distinct().count() == n_rows

    (tmp_path / "rollup" / "params.json").unlink()
    for call in (
        lambda: run_pipeline(spark, pages, out, cfg, incremental=True),
        lambda: apply_retention(out, {"1h": 1}, now=dt.datetime(2026, 1, 1)),
        lambda: compact_store(spark, out),
    ):
        with pytest.raises(ValueError, match="tier store .* has no params.json"):
            call()


def test_store_refuses_unknown_slab_before_writing(spark, pages, tmp_path):
    """A slab the store's slab rule does not know, whether Spark's
    date_trunc knows it ('year') or not ('fortnight'), is refused before
    params.json or any table is written."""
    for slab in ("year", "fortnight"):
        out = tmp_path / slab
        with pytest.raises(ValueError, match="slab must be one of"):
            run_pipeline(spark, pages, str(out), PipelineConfig(n_buckets=2, slab=slab))
        assert not (out / "params.json").exists()
        assert not list(out.glob("tier_*")) and not list(out.glob("gorilla_*"))


def test_pipeline_points_and_1h_sink_order(spark, pages, tmp_path):
    """The manifest's ``points`` (observed on the tier writes) equals the
    bucket's written 1h+1d+1w rows.  Each tier_1h file holds contiguous url
    runs with strictly increasing ts — the order the presorted 1h Gorilla
    sink relies on — so it writes exactly one chunk per (url, column, slab)."""
    import json

    import pyarrow.parquet as pq

    out = tmp_path / "rollup_order"
    run_pipeline(spark, pages, str(out), PipelineConfig(n_buckets=2))
    done = [json.loads(l) for l in (out / "manifest.jsonl").read_text().splitlines()]
    for r in done:
        written = sum(
            spark.read.parquet(str(out / f"tier_{t}")).filter(F.col("bucket") == r["bucket"]).count()
            for t in ("1h", "1d", "1w")
        )
        assert r["points"] == written > 0

    files = sorted((out / "tier_1h").rglob("*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["url", "ts"]).to_pandas()
        urls = t["url"].to_numpy()
        starts = np.flatnonzero(np.r_[True, urls[1:] != urls[:-1]])
        assert len(starts) == len(set(urls)), f"url runs not contiguous in {f}"
        same_url = urls[1:] == urls[:-1]
        assert (t["ts"].diff().dt.total_seconds().to_numpy()[1:][same_url] > 0).all(), f
    chunks = spark.read.parquet(str(out / "gorilla_1h"))
    assert chunks.count() == chunks.select("url", "column", "slab").distinct().count()


def test_pipeline_raises_on_mixed_text_digests(spark, pages, tmp_path):
    """One url whose text differs between its crawls breaks the byte-identity
    invariant, and run_pipeline says so."""
    url0 = pages.select("url").orderBy("url").first()["url"]
    mixed = pages.withColumn(
        "text",
        F.when((F.col("url") == url0) & (F.hour("warc_ts") % 2 == 0), F.concat("text", F.lit(" edited")))
        .otherwise(F.col("text")),
    )
    with pytest.raises(AssertionError, match=r"text byte-identity invariant violated for 1 urls"):
        run_pipeline(spark, mixed, str(tmp_path / "mixed"), PipelineConfig(n_buckets=2, compress=False))


def _last_job_of(spark, group):
    """Run one marker job in ``group``; its job id, once the status store
    has recorded it (and so every job submitted before it)."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    sc.parallelize([0], 1).count()
    for _ in range(200):
        ids = sc.statusTracker().getJobIdsForGroup(group)
        if ids:
            return max(ids)
        time.sleep(0.05)
    raise AssertionError(f"status store never recorded the {group} marker job")


def test_pipeline_jobs_stay_in_callers_group(spark, pages, tmp_path):
    """Every job run_pipeline starts, on its own thread or on its pool,
    carries the caller's job group, so a trace can attribute it and
    cancelJobGroup reaches it."""
    import uuid

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    try:
        first = _last_job_of(spark, f"before-{tag}")
        sc.setJobGroup(f"g-{tag}", "pipeline under test")
        run_pipeline(spark, pages, str(tmp_path / "grouped"), PipelineConfig(n_buckets=2))
        last = _last_job_of(spark, f"after-{tag}")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_group = set(sc.statusTracker().getJobIdsForGroup(f"g-{tag}"))
    started = set(range(first + 1, last))
    assert started, "run_pipeline started no job"
    assert in_group == started, sorted(started - in_group)


def test_background_encode_failure_leaves_bucket_unmarked(spark, pages, tmp_path, monkeypatch):
    """A Gorilla encode that fails on the pool fails the call: the bucket
    gets no done row, no job is left running, and a resumed run writes the
    same six tables as a clean run."""
    import json

    import stl_decomp_4j_spark.pipeline as pipeline

    real = pipeline.compress_tier
    calls = []

    def failing_1d(tier, **kw):
        calls.append(kw)
        chunks = real(tier, **kw)
        if len(calls) % 3 == 2:  # a bucket encodes 1h, 1d, 1w in that order
            chunks = chunks.withColumn(
                "n", F.when(F.col("n") >= 0, F.raise_error(F.lit("injected 1d encode failure")))
            )
        return chunks

    cfg = PipelineConfig(n_buckets=2)
    out = tmp_path / "crashed"
    monkeypatch.setattr(pipeline, "compress_tier", failing_1d)
    with pytest.raises(Exception, match="injected 1d encode failure"):
        run_pipeline(spark, pages, str(out), cfg)
    monkeypatch.undo()

    manifest = out / "manifest.jsonl"
    rows = [json.loads(l) for l in manifest.read_text().splitlines()] if manifest.exists() else []
    assert not [r for r in rows if r["bucket"] == 0 and r["status"] == "done"], rows
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []

    resumed = run_pipeline(spark, pages, str(out), cfg, incremental=True)
    assert sorted(resumed.buckets_run) == [0, 1]
    clean = tmp_path / "clean"
    run_pipeline(spark, pages, str(clean), cfg)
    _assert_same_store(spark, out, clean)


def _assert_same_store(spark, a_root, b_root):
    """The six tables of two stores hold the same rows, ``run_id`` aside:
    every tier value and every Gorilla chunk's bytes are equal."""
    keys = {"tier": ["url", "ts"], "gorilla": ["url", "column", "t0"]}
    for kind in ("tier", "gorilla"):
        for t in ("1h", "1d", "1w"):
            a, b = (
                spark.read.parquet(str(root / f"{kind}_{t}")).drop("run_id").toPandas()
                .sort_values(keys[kind]).reset_index(drop=True)
                for root in (a_root, b_root)
            )
            assert len(a) > 0, (kind, t)
            pd.testing.assert_frame_equal(a, b, check_exact=True, obj=f"{kind}_{t}")


@pytest.fixture(scope="module")
def pages_60x30(spark, tmp_path_factory):
    """60 urls over 30 days, written once: large enough that a 4-bucket
    day-slab store has weeks whose daily rows arrive from several files."""
    path = str(tmp_path_factory.mktemp("pages_60x30") / "pages")
    generate_pages(spark, n_urls=60, days=30).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("slab", ["day", "week", "month"])
def test_store_is_independent_of_input_split(spark, pages_60x30, tmp_path, slab):
    """The same pages read as one split or as eight give the same six
    tables: every tier sum runs in ts order, whatever the files and
    splits that deliver its rows."""
    cfg = PipelineConfig(n_buckets=4, slab=slab)
    for n in (1, 8):
        run_pipeline(spark, pages_60x30.repartition(n), str(tmp_path / f"split{n}"), cfg)
    _assert_same_store(spark, tmp_path / "split1", tmp_path / "split8")


def test_store_is_independent_of_run_history(spark, pages_60x30, tmp_path):
    """A full run over A and B equals a full run over A followed by an
    incremental run over A and B, where B extends the last days of one
    bucket's urls: the incremental run rewrites that bucket, and the
    buckets it skips already hold what a full run writes."""
    cfg = PipelineConfig(n_buckets=4, slab="day")
    cut = pages_60x30.agg(F.max("warc_ts") - F.expr("INTERVAL 5 DAYS")).first()[0]
    in_b = (F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)) == 0) & (F.col("warc_ts") >= F.lit(cut))
    run_pipeline(spark, pages_60x30.filter(~in_b), str(tmp_path / "history"), cfg)
    res = run_pipeline(spark, pages_60x30, str(tmp_path / "history"), cfg, incremental=True)
    assert res.buckets_run == [0]
    run_pipeline(spark, pages_60x30, str(tmp_path / "full"), cfg)
    _assert_same_store(spark, tmp_path / "history", tmp_path / "full")


def test_v3_store_is_refused(spark, pages, tmp_path, monkeypatch):
    """A store recorded at tier schema v3 summed its 1w rows in another
    order: the pipeline refuses to extend it, and the monitor job refuses
    to audit it, before any Spark work."""
    import json
    from dataclasses import asdict

    import jobs.monitor_job as mj

    out = tmp_path / "v3"
    out.mkdir()
    (out / "params.json").write_text(json.dumps({**asdict(PipelineConfig()), "granularity": "hour", "schema_version": 3}))
    with pytest.raises(ValueError, match="mismatch on schema_version"):
        run_pipeline(spark, pages, str(out), PipelineConfig(), incremental=True)
    monkeypatch.setattr("sys.argv", ["monitor_job.py", "--output", str(out)])
    with pytest.raises(ValueError, match="mismatch on schema_version"):
        mj.main()


def test_pipeline_grain_is_the_1h_tier_grain():
    """The grain the pipeline decomposes at is not a setting: the 1h tier
    holds hourly rows, whatever the config."""
    assert PipelineConfig.granularity == "hour"
    with pytest.raises(TypeError):
        PipelineConfig(granularity="day")


def test_query_job_reads_only_tier_stores(spark, pages, tmp_path):
    """Both query_job reads refuse a directory that holds tier and Gorilla
    tables but no params.json, as every other store call does."""
    import shutil

    from jobs.query_job import run_query, serve_query

    store = tmp_path / "rollup"
    run_pipeline(spark, pages, str(store), PipelineConfig(n_buckets=1))
    copied = tmp_path / "copied"
    for table in ("tier_1d", "gorilla_1h"):
        shutil.copytree(store / table, copied / table)
    for call in (
        lambda: run_query(spark, str(copied), tier="1h"),
        lambda: serve_query(spark, str(copied), "month"),
    ):
        with pytest.raises(ValueError, match="tier store .* has no params.json"):
            call()

"""Physical-plan properties of the engine's operators, gated in pytest.

Each test asserts on the formatted ``explain`` of one operator: column
pruning and pushed filters on scans, partial aggregates before exchanges,
numbered (AQE-exempt) repartition pins in front of every Python stage, and
no Python or joins where a codegen aggregate or one window suffices.  These
shapes are what keep the engine scalable, so a regression fails the gate.

Inputs: a 50-url synthetic pages table (30 days, 50 events per url) and the
sf0.001 ``documents`` and ``embeddings`` tables.  The STL-stage, indexed-ANN
and corpus-composition plans are gated next to their operators
(``test_stl_kernel_plan``, ``test_ann_index_plan``,
``test_corpus_composition_plan``)."""
import datetime as dt
import re

import pyspark.sql.functions as F
import pytest
from test_trainingdata_ops import SF_DIR

import __spark_entry__ as entry_mod
from stl_decomp_4j_spark.operators.bucketize import bucketize
from stl_decomp_4j_spark.operators.compress import compact_chunks, compress_tier, prune_chunks
from stl_decomp_4j_spark.operators.gapfill import gapfill
from stl_decomp_4j_spark.operators.rollup import build_tiers
from stl_decomp_4j_spark.operators.stl_udf import stl_decompose_sparse_df
from stl_decomp_4j_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return tmp_path_factory.mktemp("plans")


@pytest.fixture(scope="module")
def pages(spark, work):
    path = str(work / "pages")
    generate_pages(spark, n_urls=50, days=30, events_per_url=50).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def buckets(pages):
    return bucketize(pages.select("url", "warc_ts"))


@pytest.fixture(scope="module")
def filled(buckets):
    return gapfill(buckets)


@pytest.fixture(scope="module")
def decomposed(buckets):
    return stl_decompose_sparse_df(buckets, period=24, seasonal_width=35)


@pytest.fixture(scope="module")
def dec_stored(spark, work, decomposed):
    path = str(work / "decomposed")
    decomposed.write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def chunk_store(spark, work, filled):
    path = str(work / "chunks")
    compress_tier(filled.select("url", "ts", "value"), chunk_points=168).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def gauge(buckets):
    return buckets.select("url", "ts", F.col("cnt").cast("double").alias("value"))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# -- series path -------------------------------------------------------------


def test_scan_column_pruning_and_predicate_pushdown(plan_of, pages):
    plan = plan_of(pages.select("url", "warc_ts").filter(F.col("warc_ts") >= "2025-01-10"))
    assert "struct<url:string,warc_ts:timestamp>" in plan, plan
    assert "PushedFilters: [IsNotNull(warc_ts), GreaterThanOrEqual(warc_ts" in plan, plan


def test_bucketize_partial_final_hash_aggregate(plan_of, buckets):
    plan = plan_of(buckets)
    assert "partial_count" in plan, plan
    assert "Batched: true" in plan, plan  # vectorized scan


def test_stl_1d_tier_partial_aggregate(plan_of, decomposed):
    """The 1d rollup's partial and final hash aggregate sit on a sort by
    (url, ts) with no exchange between them: every group is summed in ts
    order, whatever the input split (rollup_tier's one summation order)."""
    plan = plan_of(build_tiers(decomposed)["1d"])
    assert "partial_" in plan, plan
    tree = re.findall(r"([A-Za-z]+) \((\d+)\)$", plan.split("\n\n")[0], re.M)
    names = [name for name, _ in tree if name != "Project"]
    assert names[1:4] == ["HashAggregate", "HashAggregate", "Sort"], plan
    sort_id = next(i for name, i in tree if name == "Sort")
    assert re.search(
        rf"\({sort_id}\) Sort\n.*\nArguments: \[url#\d+ ASC NULLS FIRST, ts#\d+ ASC NULLS FIRST\]", plan
    ), plan


def test_gorilla_sink_batched_map_in_pandas(plan_of, filled):
    plan = plan_of(compress_tier(filled.select("url", "ts", "value")))
    assert "MapInArrow" in plan, plan  # no grouped map
    assert "Sort" in plan and "Arguments: [url" in plan, plan  # sorted within url partitions
    assert "hashpartitioning(url" in plan, plan  # pinned url repartition


def test_gorilla_chunk_store_pruned_range_read(plan_of, chunk_store):
    plan = plan_of(
        prune_chunks(chunk_store, urls=["u0"], ts_min=dt.datetime(2025, 1, 5), ts_max=dt.datetime(2025, 1, 12))
    )
    assert (
        "PushedFilters" in plan and "EqualTo(url," in plan
        and "GreaterThanOrEqual(t1," in plan and "LessThanOrEqual(t0," in plan
    ), plan


def test_gorilla_compaction_metadata_detect_passthrough_recode(plan_of, chunk_store):
    """Fragmentation detection is a metadata-only codegen hash agg, healthy
    chunks pass through with no Python, and only the recode branch crosses
    Arrow, fed by a numbered (AQE-exempt) repartition."""
    plan = plan_of(compact_chunks(chunk_store, chunk_points=4096))
    assert plan.count(") MapInArrow") == 1 and "BatchEvalPython" not in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


@pytest.mark.parametrize(
    "query", ["q_stl_fit_stats", "q_stl_seasonal_smooth", "q_stl_exogenous", "q_lttb_downsample"]
)
def test_registry_grouped_map_is_pinned(spark, plan_of, query):
    plan = plan_of(getattr(entry_mod, query)(spark, SF_DIR))
    assert "REPARTITION_BY_NUM" in plan and "MapInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    if query != "q_lttb_downsample":
        # the STL queries gap-fill inside the kernel: no grid explode
        assert "Generate" not in plan, plan


def test_forecast_broadcasts_state_onto_grid(plan_of, dec_stored):
    """Per-url state is broadcast onto the future grid (no big-table shuffle)
    and the operator adds no Python beyond the upstream STL kernel."""
    from stl_decomp_4j_spark.operators.forecast import stl_forecast

    plan = plan_of(stl_forecast(dec_stored, period=24, horizon=48, trend_window=24))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    assert (
        "EvalPython" not in plan and "MapInPandas" not in plan
        and "FlatMapGroupsInPandas" not in plan
    ), plan


def test_tier_audit_rollup_recompute_and_stack_unpivot(plan_of, dec_stored):
    from stl_decomp_4j_spark.operators.audit import tier_consistency
    from stl_decomp_4j_spark.operators.rollup import hourly_tier, rollup_tier

    t1h = hourly_tier(dec_stored)
    plan = plan_of(tier_consistency(rollup_tier(t1h, "day"), t1h, "day"))
    assert "partial_sum" in plan and "HashAggregate" in plan, plan
    assert "Generate" in plan and "EvalPython" not in plan, plan


def test_seasonal_strength_single_hash_agg(plan_of, dec_stored):
    from stl_decomp_4j_spark.operators.diagnostics import seasonal_strength

    plan = plan_of(seasonal_strength(dec_stored))
    assert (
        "partial_var_samp" in plan and "EvalPython" not in plan
        and "Join" not in plan
    ), plan


def test_cusum_broadcast_moments_and_window_cumsum(plan_of, dec_stored):
    from stl_decomp_4j_spark.operators.diagnostics import cusum_changepoints

    plan = plan_of(cusum_changepoints(dec_stored, k=3.0))
    assert (
        "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
        and "Window" in plan and "EvalPython" not in plan
    ), plan


def test_outage_summary_sparse_lag_windows(plan_of, buckets):
    """Outage detection runs on the sparse buckets: no dense-grid explode."""
    from stl_decomp_4j_spark.operators.diagnostics import outage_summary

    plan = plan_of(outage_summary(buckets))
    assert (
        "Generate" not in plan and "sequence" not in plan
        and "EvalPython" not in plan
    ), plan


# -- read-side and rollup operators -------------------------------------------


def test_asof_join_union_and_single_window(plan_of, buckets):
    from stl_decomp_4j_spark.operators.readside import asof_join

    probes = buckets.select("url", (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ts"))
    plan = plan_of(asof_join(probes, buckets))
    assert (
        plan.count(") Window") == 1 and ") Join" not in plan
        and "Join" not in plan and "EvalPython" not in plan
    ), plan


def test_twa_agg_reuses_window_partitioning(plan_of, pages):
    from stl_decomp_4j_spark.operators.readside import time_weighted_avg

    plan = plan_of(
        time_weighted_avg(pages.select("url", F.col("warc_ts").alias("ts"), F.lit(1.0).alias("value")))
    )
    assert plan.count(") Exchange") == 2 and "EvalPython" not in plan, plan


def test_linear_gapfill_single_window(plan_of, buckets):
    from stl_decomp_4j_spark.operators.gapfill import gapfill_linear

    plan = plan_of(gapfill_linear(buckets))
    assert plan.count(") Window") == 1 and "EvalPython" not in plan, plan


def test_counter_rate_shared_window_sort(plan_of, gauge):
    from stl_decomp_4j_spark.operators.readside import counter_rate

    plan = plan_of(counter_rate(gauge))
    assert (
        plan.count(") Window") <= 2 and plan.count(") Sort") <= 2
        and "Join" not in plan and "EvalPython" not in plan
    ), plan


def test_ohlc_rollup_single_hash_agg(plan_of, gauge):
    from stl_decomp_4j_spark.operators.rollup import ohlc_rollup

    plan = plan_of(ohlc_rollup(gauge))
    assert (
        "partial_min_by" in plan.lower() and "Window" not in plan
        and "Join" not in plan and "EvalPython" not in plan
    ), plan


def test_stats_rollup_moment_sums(plan_of, gauge):
    from stl_decomp_4j_spark.operators.rollup import stats_rollup

    plan = plan_of(stats_rollup(gauge))
    assert (
        "partial_sum" in plan and "Window" not in plan
        and "Join" not in plan and "EvalPython" not in plan
    ), plan


def test_histogram_rollup_single_hash_agg(plan_of, gauge):
    from stl_decomp_4j_spark.operators.rollup import histogram_rollup

    plan = plan_of(histogram_rollup(gauge, lo=0.0, hi=64.0, bins=8))
    assert (
        "partial_count" in plan and "Window" not in plan
        and "Join" not in plan and "EvalPython" not in plan
    ), plan


def test_top_k_rank_window_after_count_reduction(plan_of, pages):
    """The rank window runs on count-reduced rows, and WindowGroupLimit
    prunes to k rows per partition before the bucket exchange."""
    from stl_decomp_4j_spark.operators.rollup import top_k_keys

    plan = plan_of(top_k_keys(pages.select("url", F.col("warc_ts").alias("ts")), k=3))
    assert (
        "partial_count" in plan and plan.count(") Window\n") == 1
        and "Join" not in plan and "EvalPython" not in plan
    ), plan
    assert "WindowGroupLimit" in plan and ", Partial" in plan, plan


def test_sessionization_shared_window_sort(plan_of, pages):
    from stl_decomp_4j_spark.operators.sessions import session_summary

    plan = plan_of(session_summary(pages.select("url", F.col("warc_ts").alias("ts"))))
    assert (
        plan.count(") Window") <= 2 and plan.count(") Sort") <= 2
        and "Join" not in plan and "EvalPython" not in plan
    ), plan


def test_components_star_round_codegen(spark, plan_of):
    from stl_decomp_4j_spark.operators.components import _large_star, _small_star

    edges = spark.range(0, 1000).select((F.col("id") % 97).alias("u"), (F.col("id") % 89 + 1).alias("v"))
    plan = plan_of(_small_star(_large_star(edges)))
    assert "HashAggregate" in plan and "EvalPython" not in plan, plan


# -- training-data operators ----------------------------------------------------


def test_ann_topk_vectorized_cosine(plan_of, emb):
    from stl_decomp_4j_spark.operators.similarity import brute_force_topk

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    plan = plan_of(brute_force_topk(emb, q, k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "ArrowEvalPython" in plan, plan  # cosine scoring is Arrow-batched
    assert "lambdafunction" not in plan.lower(), plan  # no interpreted cast lambda


def test_minhash_lsh_lambda_free_shingling(plan_of, docs):
    from stl_decomp_4j_spark.operators.dedup import dedup_minhash_lsh

    cached = []
    plan = plan_of(dedup_minhash_lsh(docs, threshold=0.6, cache_handle=cached))
    cached[0].unpersist()
    assert "BatchEvalPython" not in plan, plan
    assert "posexplode" in plan, plan
    assert "transform(" not in plan.lower() or "lambdafunction" not in plan.lower(), plan


def test_lsh_skew_valve_window_on_join_partitioning(plan_of, docs):
    """With max_bucket set, the bucket-size count is a window over the same
    (band, bh) partitioning the self-join shuffles on."""
    from stl_decomp_4j_spark.operators.dedup import lsh_candidate_pairs, shingle_sets, signatures

    plan = plan_of(lsh_candidate_pairs(signatures(shingle_sets(docs, "text", "doc_id", 3)), max_bucket=1000))
    assert "Window" in plan and "hashpartitioning(band" in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan


def test_repeated_span_dedup(plan_of, docs):
    from stl_decomp_4j_spark.operators.dedup import duplicate_spans

    plan = plan_of(duplicate_spans(docs, k=5))
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "hashpartitioning(doc_id" in plan and "Window" in plan, plan


def test_span_removal_anti_join_and_hash_agg_reassembly(plan_of, docs):
    from stl_decomp_4j_spark.operators.dedup import strip_duplicate_spans

    plan = plan_of(strip_duplicate_spans(docs, k=5))
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert "unboundedfollowing" not in plan.lower(), plan  # no full-frame window
    assert "ObjectHashAggregate" in plan and "collect_list" in plan, plan


@pytest.mark.parametrize("op", ["snapshot_dedup", "snapshot_churn"])
def test_snapshot_vote_agg_and_single_lag_window(plan_of, docs, op):
    """Temporal snapshot dedup is one simhash vote agg (the source key rides
    the groupBy, no join back) and one lag window keyed on source; the churn
    rollup reuses the window's partitioning.  So: no join, one window, two
    exchanges (vote agg, window)."""
    from stl_decomp_4j_spark.operators import dedup

    plan = plan_of(getattr(dedup, op)(docs, max_hamming=4))
    assert "Join" not in plan, plan
    assert plan.count(") Window") == 1, plan
    assert plan.count(") Exchange") == 2, plan

#!/usr/bin/env python3
"""Dump formatted physical plans for the pipeline's key stages and grep the
properties that matter at scale (column pruning in ReadSchema, partial
aggregation, broadcast vs shuffle joins, WholeStageCodegen spans).

Writes PLANS.md at the repo root.
"""
from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from stl_decomp_4j_spark.operators.bucketize import bucketize
    from stl_decomp_4j_spark.operators.gapfill import gapfill
    from stl_decomp_4j_spark.operators.rollup import build_tiers
    from stl_decomp_4j_spark.operators.stl_udf import stl_decompose_sparse_df
    from stl_decomp_4j_spark.plans.session import build_session
    from stl_decomp_4j_spark.sources.pages import generate_pages

    spark = build_session(app_name="explain", master="local[4]", shuffle_partitions=8)
    pages = generate_pages(spark, n_urls=50, days=30, events_per_url=50)
    pages.write.mode("overwrite").parquet("/tmp/explain_pages")
    pages = spark.read.parquet("/tmp/explain_pages")

    sections = {}

    # column pruning: series path must read only url, warc_ts
    series_scan = pages.select("url", "warc_ts").filter(F.col("warc_ts") >= "2025-01-10")
    sections["scan: column pruning + predicate pushdown"] = plan_of(series_scan)

    buckets = bucketize(pages.select("url", "warc_ts"))
    sections["bucketize: partial+final hash aggregate"] = plan_of(buckets)

    filled = gapfill(buckets)
    sections["gap-fill: per-url grid join"] = plan_of(filled)

    decomposed = stl_decompose_sparse_df(buckets, period=24, seasonal_width=35)
    sections["fused gap-fill + stl (pipeline path)"] = plan_of(decomposed)
    sections["stl + 1d tier"] = plan_of(build_tiers(decomposed)["1d"])

    # round-2 shapes ------------------------------------------------------
    from stl_decomp_4j_spark.operators.compress import compress_tier
    from stl_decomp_4j_spark.operators.dedup import dedup_minhash_lsh
    from stl_decomp_4j_spark.operators.similarity import brute_force_topk

    sections["gorilla compression sink (batched mapInPandas)"] = plan_of(
        compress_tier(filled.select("url", "ts", "value"), columns=["value"])
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    sections["ann top-k (vectorized cosine + TakeOrderedAndProject)"] = plan_of(
        brute_force_topk(emb, q, k=10)
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sections["minhash LSH dedup (lambda-free shingling, int64 verify)"] = plan_of(
        dedup_minhash_lsh(docs, threshold=0.6)
    )

    # round-4: adversarial-skew valve — with max_bucket set, the band-bucket
    # size count is a window over the SAME (band, bh) partitioning the
    # self-join shuffles on (one exchange feeds both), so degenerate buckets
    # are dropped before any O(n^2) pair expansion
    from stl_decomp_4j_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sections["LSH band join with max_bucket skew valve (window on join partitioning)"] = plan_of(
        lsh_candidate_pairs(minhash_signatures(docs), max_bucket=1000)
    )

    # round-4: repeated-span dedup — gram hash agg (cross-doc detection is
    # min!=max, no countDistinct), semi-join by hash, island merge as two
    # windows + an agg all on one doc_id partitioning; zero Python anywhere
    from stl_decomp_4j_spark.operators.dedup import duplicate_spans

    sections["repeated-span dedup (hashed span index, island-merge windows)"] = plan_of(
        duplicate_spans(docs, k=5)
    )

    # round-4/5: span removal — covered-position explode + anti-join, then
    # per-doc reassembly as ONE hash aggregate (array_sort(collect_list(
    # struct(pos,w))) + GetArrayStructFields).  Round 5 removed the r4
    # full-frame window (collect_list over unbounded frame + row_number pick
    # was O(words^2) UnsafeRow copies per doc); still zero Python.
    from stl_decomp_4j_spark.operators.dedup import strip_duplicate_spans

    sections["span removal (anti-join + per-doc hash-agg reassembly)"] = plan_of(
        strip_duplicate_spans(docs, k=5)
    )

    # round-4: temporal snapshot dedup — one codegen simhash vote agg (the
    # source key rides the groupBy, no join back), then ONE window exchange
    # keyed on source; zero joins, zero Python
    from stl_decomp_4j_spark.operators.dedup import snapshot_churn, snapshot_dedup

    sections["temporal snapshot dedup (vote agg + single lag window, zero joins)"] = plan_of(
        snapshot_dedup(docs, max_hamming=4)
    )
    # churn rollup must reuse the window's source partitioning (no exchange
    # between the lag window and the groupBy)
    sections["snapshot churn rollup (agg reuses window partitioning)"] = plan_of(
        snapshot_churn(docs, max_hamming=4)
    )

    # round-4: the composed corpus-cleaning pass — every stage is one of the
    # operators audited above; the composition itself must add only slim
    # doc_id anti-joins between stages and introduce no per-row Python
    # (note: connected_components inside it runs its star-rounds eagerly,
    # persisting each round, so the printed plan shows the final anti-join
    # chain over the converged component labels).  Its checks are gated in
    # tests/test_corpus_pipeline.py::test_corpus_composition_plan.
    from stl_decomp_4j_spark.operators.corpus import dedup_corpus

    sections["corpus cleaning composition (exact -> snapshot -> near-dup -> span strip)"] = plan_of(
        dedup_corpus(docs, snapshot_key="source", strip_spans_k=5)
    )

    # round-3: pruned chunk reads — url/time predicates must reach the
    # parquet scan of the Gorilla chunk store (PushedFilters on url/t0/t1)
    import datetime as dt

    from stl_decomp_4j_spark.operators.compress import compress_tier, prune_chunks

    chunk_store = "/tmp/explain_chunks"
    compress_tier(filled.select("url", "ts", "value"), columns=["value"], chunk_points=168).write.mode(
        "overwrite"
    ).parquet(chunk_store)
    stored = spark.read.parquet(chunk_store)
    sections["gorilla chunk store: metadata-pruned range read"] = plan_of(
        prune_chunks(
            stored,
            urls=["u0"],
            ts_min=dt.datetime(2025, 1, 5),
            ts_max=dt.datetime(2025, 1, 12),
        )
    )

    # round-3: compaction — fragmentation detection must be a metadata-only
    # codegen hash agg (no Python), healthy chunks must pass through with no
    # Python eval at all, and only the recode branch crosses Arrow, fed by a
    # numbered (AQE-exempt) repartition
    from stl_decomp_4j_spark.operators.compress import compact_chunks

    sections["gorilla store compaction (metadata detect, pass-through + recode)"] = plan_of(
        compact_chunks(stored, chunk_points=4096)
    )

    # round-3 shapes: the three formerly-unpinned CPU-heavy driver queries
    # must each show REPARTITION_BY_NUM feeding FlatMapGroupsInPandas
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    sections["driver q_stl_fit_stats (pinned grouped-map)"] = plan_of(
        entry_mod.q_stl_fit_stats(spark, sf)
    )
    sections["driver q_stl_seasonal_smooth (pinned grouped-map)"] = plan_of(
        entry_mod.q_stl_seasonal_smooth(spark, sf)
    )
    sections["driver q_stl_exogenous (pinned grouped-map)"] = plan_of(
        entry_mod.q_stl_exogenous(spark, sf)
    )

    # round-3: forecast — per-url state must be broadcast onto the future
    # grid (no big-table shuffle) and the whole operator must add zero
    # Python beyond the upstream STL kernel; audit — recompute side is an
    # ordinary partial+final rollup agg, the mismatch unpivot a codegen
    # Generate (stack), and the bucket join post-aggregation
    from stl_decomp_4j_spark.operators.audit import tier_consistency
    from stl_decomp_4j_spark.operators.forecast import stl_forecast
    from stl_decomp_4j_spark.operators.rollup import hourly_tier, rollup_tier

    dec_table = "/tmp/explain_decomposed"
    decomposed.write.mode("overwrite").parquet(dec_table)
    dec_stored = spark.read.parquet(dec_table)
    sections["stl forecast (broadcast per-url state onto generated grid)"] = plan_of(
        stl_forecast(dec_stored, period=24, horizon=48, trend_window=24)
    )
    t1h_stored = hourly_tier(dec_stored)
    sections["tier consistency audit (rollup recompute + stack unpivot)"] = plan_of(
        tier_consistency(rollup_tier(t1h_stored, "day"), t1h_stored, "day")
    )

    # round-3: diagnostics — strength is one hash agg; CUSUM broadcasts
    # per-url moments (tiny) onto an ordered window cumsum; outage summary
    # runs lag windows on the SPARSE buckets (no dense-grid Generate)
    from stl_decomp_4j_spark.operators.diagnostics import (
        cusum_changepoints,
        outage_summary,
        seasonal_strength,
    )

    # round-3: one large-star/small-star round of connected components —
    # pure codegen aggregates + joins (the iterative driver loop only
    # re-applies this same plan shape to a persisted+materialized edge set)
    from stl_decomp_4j_spark.operators.components import _large_star, _small_star

    edges = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("u"), (F.col("id") % 89 + 1).alias("v")
    )
    sections["connected-components star round (codegen agg+join)"] = plan_of(
        _small_star(_large_star(edges))
    )

    # round-3: read-side serving ops — as-of is union + ONE window (no join);
    # twa's final agg reuses the window's (url, bucket) partitioning; linear
    # gap-fill's two ignore-nulls carries share a single sort
    from stl_decomp_4j_spark.operators.gapfill import gapfill_linear
    from stl_decomp_4j_spark.operators.readside import asof_join, time_weighted_avg

    probes = buckets.select(
        "url", (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ts")
    )
    sections["as-of join (union + single window, zero joins)"] = plan_of(
        asof_join(probes, buckets)
    )
    sections["time-weighted avg (agg reuses window partitioning)"] = plan_of(
        time_weighted_avg(
            pages.select("url", F.col("warc_ts").alias("ts"), F.lit(1.0).alias("value"))
        )
    )
    sections["linear gap-fill (single window exchange)"] = plan_of(
        gapfill_linear(buckets)
    )

    # round-3: counter/ohlc/stats rollups — counter_rate's lag + running-sum
    # windows share one url-partitioned sort and the final (url, bucket) agg
    # is satisfied by the url partitioning (no exchange after the windows);
    # ohlc/stats are single partial+final hash aggs, no window, no Python
    from stl_decomp_4j_spark.operators.readside import counter_rate
    from stl_decomp_4j_spark.operators.rollup import ohlc_rollup, stats_rollup

    gauge = buckets.select("url", "ts", F.col("cnt").cast("double").alias("value"))
    sections["counter rate (shared window sort, agg reuses url partitioning)"] = plan_of(
        counter_rate(gauge)
    )
    sections["ohlc rollup (single partial+final hash agg)"] = plan_of(
        ohlc_rollup(gauge)
    )
    sections["stats rollup (moment sums, single hash agg)"] = plan_of(
        stats_rollup(gauge)
    )

    from stl_decomp_4j_spark.operators.rollup import histogram_rollup, top_k_keys

    sections["histogram rollup (clamped binning, single hash agg)"] = plan_of(
        histogram_rollup(gauge, lo=0.0, hi=64.0, bins=8)
    )
    sections["per-bucket top-k (rank window on count-reduced rows)"] = plan_of(
        top_k_keys(pages.select("url", F.col("warc_ts").alias("ts")), k=3)
    )

    from stl_decomp_4j_spark.operators.sessions import session_summary

    sections["sessionization (collapse + shared window sort + summary agg)"] = plan_of(
        session_summary(pages.select("url", F.col("warc_ts").alias("ts")))
    )

    sections["seasonal strength (single hash agg)"] = plan_of(
        seasonal_strength(dec_stored)
    )
    sections["residual CUSUM change-points (broadcast moments + window cumsum)"] = plan_of(
        cusum_changepoints(dec_stored, k=3.0)
    )
    sections["crawl outage summary (sparse lag windows, no dense grid)"] = plan_of(
        outage_summary(buckets)
    )

    out = ["# PLANS — physical plan review of the north-rule pipeline\n"]
    out.append(
        "Generated by tools/explain_plans.py. Things to verify: ReadSchema "
        "pruned to url+warc_ts on the series path; PushedFilters for time "
        "predicates; partial_count before the bucketize exchange; "
        "the STL MapInArrow fed by a numbered url repartition + (url, ts) sort; "
        "tier rollups as partial+final HashAggregate.\n"
    )
    for title, text in sections.items():
        out.append(f"\n## {title}\n\n```\n{text}\n```\n")

    checks = []
    scan_plan = sections["scan: column pruning + predicate pushdown"]
    checks.append(("ReadSchema pruned to url,warc_ts", "struct<url:string,warc_ts:timestamp>" in scan_plan))
    checks.append(("PushedFilters on warc_ts", "PushedFilters: [IsNotNull(warc_ts), GreaterThanOrEqual(warc_ts" in scan_plan))
    b_plan = sections["bucketize: partial+final hash aggregate"]
    checks.append(("bucketize partial aggregate", "partial_count" in b_plan))
    checks.append(("bucketize vectorized scan", "Batched: true" in b_plan))
    # the STL stage's own plan properties are gated in pytest
    # (tests/test_pipeline_spark.py::test_stl_kernel_plan)
    s_plan = sections["stl + 1d tier"]
    checks.append(("tier rollup partial agg", "partial_" in s_plan))
    g_plan = sections["gorilla compression sink (batched mapInPandas)"]
    checks.append(("compress sink is batched MapInPandas (no grouped-map)", "MapInPandas" in g_plan))
    checks.append(
        ("compress sink sorts within url partitions",
         "Sort" in g_plan and "Arguments: [url" in g_plan)
    )
    checks.append(("compress sink pinned url repartition", "hashpartitioning(url" in g_plan))
    t_plan = sections["ann top-k (vectorized cosine + TakeOrderedAndProject)"]
    checks.append(("top-k via TakeOrderedAndProject", "TakeOrderedAndProject" in t_plan))
    checks.append(("cosine scoring is Arrow-batched (pandas UDF)", "ArrowEvalPython" in t_plan))
    m_plan = sections["minhash LSH dedup (lambda-free shingling, int64 verify)"]
    checks.append(("minhash plan has no Python row UDFs", "BatchEvalPython" not in m_plan))
    checks.append(("shingling via posexplode Generate (codegen)", "posexplode" in m_plan))
    checks.append(("no interpreted array transform in dedup plan", "transform(" not in m_plan.lower() or "lambdafunction" not in m_plan.lower()))
    v_plan = sections["LSH band join with max_bucket skew valve (window on join partitioning)"]
    checks.append(
        ("skew valve: bucket-size window partitioned on the join key (band, bh)",
         "Window" in v_plan and "hashpartitioning(band" in v_plan)
    )
    checks.append(("skew valve adds no Python", "EvalPython" not in v_plan and "InPandas" not in v_plan))
    sp_plan = sections["repeated-span dedup (hashed span index, island-merge windows)"]
    checks.append(
        ("span dedup: pure codegen (no Python UDFs anywhere)",
         "EvalPython" not in sp_plan and "InPandas" not in sp_plan)
    )
    checks.append(("span dedup: semi-join by gram hash", "LeftSemi" in sp_plan))
    checks.append(
        ("span dedup: island merge windows on doc_id partitioning",
         "hashpartitioning(doc_id" in sp_plan and "Window" in sp_plan)
    )
    ss_plan = sections["span removal (anti-join + per-doc hash-agg reassembly)"]
    checks.append(
        ("span removal: pure codegen (no Python UDFs anywhere)",
         "EvalPython" not in ss_plan and "InPandas" not in ss_plan)
    )
    checks.append(("span removal: anti-join on (doc_id, pos)", "LeftAnti" in ss_plan))
    checks.append(
        ("span removal: no full-frame window reassembly (O(W^2) r4 shape gone)",
         "unboundedfollowing" not in ss_plan.lower())
    )
    checks.append(
        ("span removal: reassembly is a collect_list hash aggregate",
         "ObjectHashAggregate" in ss_plan and "collect_list" in ss_plan)
    )
    checks.append(
        ("ann plan has no interpreted cast lambda feeding the UDF",
         "lambdafunction" not in t_plan.lower())
    )
    c_plan = sections["gorilla chunk store: metadata-pruned range read"]
    checks.append(
        ("chunk range read pushes url+time predicates to the parquet scan",
         "PushedFilters" in c_plan and "EqualTo(url," in c_plan
         and "GreaterThanOrEqual(t1," in c_plan and "LessThanOrEqual(t0," in c_plan)
    )
    k_plan = sections["gorilla store compaction (metadata detect, pass-through + recode)"]
    checks.append(
        ("compaction: single MapInPandas (healthy chunks never cross Arrow)",
         k_plan.count(") MapInPandas") == 1 and "BatchEvalPython" not in k_plan)
    )
    checks.append(
        ("compaction recode fed by numbered repartition (AQE-exempt)",
         "REPARTITION_BY_NUM" in k_plan)
    )
    checks.append(
        ("compaction fragmentation detect is a partial+final hash agg",
         "partial_count" in k_plan or "partial_sum" in k_plan)
    )
    fc_plan = sections["stl forecast (broadcast per-url state onto generated grid)"]
    checks.append(
        ("forecast joins are broadcast (no big-table shuffle join)",
         "BroadcastHashJoin" in fc_plan and "SortMergeJoin" not in fc_plan)
    )
    checks.append(
        ("forecast adds no Python to the plan",
         "EvalPython" not in fc_plan and "MapInPandas" not in fc_plan
         and "FlatMapGroupsInPandas" not in fc_plan)
    )
    a_plan = sections["tier consistency audit (rollup recompute + stack unpivot)"]
    checks.append(
        ("audit recompute is a partial+final hash agg",
         "partial_sum" in a_plan and "HashAggregate" in a_plan)
    )
    checks.append(
        ("audit unpivot is codegen Generate (stack), no Python",
         "Generate" in a_plan and "EvalPython" not in a_plan)
    )
    cc_plan = sections["connected-components star round (codegen agg+join)"]
    checks.append(
        ("components star round is codegen agg+join, no Python",
         "HashAggregate" in cc_plan and "EvalPython" not in cc_plan)
    )
    aj_plan = sections["as-of join (union + single window, zero joins)"]
    checks.append(
        ("as-of join: one Window, ZERO joins, no Python",
         aj_plan.count(") Window") == 1 and ") Join" not in aj_plan
         and "Join" not in aj_plan and "EvalPython" not in aj_plan)
    )
    twa_plan = sections["time-weighted avg (agg reuses window partitioning)"]
    checks.append(
        ("twa: final agg reuses window partitioning (2 exchanges total)",
         twa_plan.count(") Exchange") == 2 and "EvalPython" not in twa_plan)
    )
    gl_plan = sections["linear gap-fill (single window exchange)"]
    checks.append(
        ("linear gap-fill: both carries in ONE Window, no self-join",
         gl_plan.count(") Window") == 1 and "EvalPython" not in gl_plan)
    )
    st_plan = sections["seasonal strength (single hash agg)"]
    checks.append(
        ("strength is one partial+final hash agg, no Python, no join",
         "partial_var_samp" in st_plan and "EvalPython" not in st_plan
         and "Join" not in st_plan)
    )
    cu_plan = sections["residual CUSUM change-points (broadcast moments + window cumsum)"]
    checks.append(
        ("cusum moments join is broadcast; window runs codegen-side",
         "BroadcastHashJoin" in cu_plan and "SortMergeJoin" not in cu_plan
         and "Window" in cu_plan and "EvalPython" not in cu_plan)
    )
    og_plan = sections["crawl outage summary (sparse lag windows, no dense grid)"]
    checks.append(
        ("outage summary never materializes the dense grid (no sequence explode)",
         "Generate" not in og_plan and "sequence" not in og_plan
         and "EvalPython" not in og_plan)
    )
    cr_plan = sections["counter rate (shared window sort, agg reuses url partitioning)"]
    checks.append(
        ("counter_rate: windows share one sort; no join, no Python",
         cr_plan.count(") Window") <= 2 and cr_plan.count(") Sort") <= 2
         and "Join" not in cr_plan and "EvalPython" not in cr_plan)
    )
    oh_plan = sections["ohlc rollup (single partial+final hash agg)"]
    checks.append(
        ("ohlc: partial+final hash agg only — no window, no join, no Python",
         "partial_min_by" in oh_plan.lower() and "Window" not in oh_plan
         and "Join" not in oh_plan and "EvalPython" not in oh_plan)
    )
    sr_plan = sections["stats rollup (moment sums, single hash agg)"]
    checks.append(
        ("stats: moment sums in one partial+final hash agg, no window/Python",
         "partial_sum" in sr_plan and "Window" not in sr_plan
         and "Join" not in sr_plan and "EvalPython" not in sr_plan)
    )
    hg_plan = sections["histogram rollup (clamped binning, single hash agg)"]
    checks.append(
        ("histogram: one partial+final hash agg, no window/join/Python",
         "partial_count" in hg_plan and "Window" not in hg_plan
         and "Join" not in hg_plan and "EvalPython" not in hg_plan)
    )
    tk_plan = sections["per-bucket top-k (rank window on count-reduced rows)"]
    checks.append(
        ("top-k: rank window AFTER the count reduction, no join, no Python",
         "partial_count" in tk_plan and tk_plan.count(") Window\n") == 1
         and "Join" not in tk_plan and "EvalPython" not in tk_plan)
    )
    checks.append(
        ("top-k: WindowGroupLimit pushdown prunes to k rows per partition "
         "BEFORE the bucket exchange",
         "WindowGroupLimit" in tk_plan and ", Partial" in tk_plan)
    )
    ss_plan = sections["sessionization (collapse + shared window sort + summary agg)"]
    checks.append(
        ("sessionize: lag+running-sum share one sort; no join, no Python",
         ss_plan.count(") Window") <= 2 and ss_plan.count(") Sort") <= 2
         and "Join" not in ss_plan and "EvalPython" not in ss_plan)
    )
    for qname in ("q_stl_fit_stats", "q_stl_seasonal_smooth", "q_stl_exogenous"):
        p = sections[f"driver {qname} (pinned grouped-map)"]
        checks.append(
            (f"{qname}: REPARTITION_BY_NUM pin feeds FlatMapGroupsInPandas",
             "REPARTITION_BY_NUM" in p and "FlatMapGroupsInPandas" in p)
        )

    out.append("\n## Automated checks\n\n")
    for name, ok in checks:
        out.append(f"- [{'x' if ok else ' '}] {name}\n")
        print(("PASS " if ok else "FAIL ") + name)

    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text("".join(out))
    spark.stop()


if __name__ == "__main__":
    main()

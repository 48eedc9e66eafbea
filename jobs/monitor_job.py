#!/usr/bin/env python3
"""Store health-monitoring job, launched via spark-submit:

    spark-submit --py-files dist/stl_decomp_4j_spark.zip jobs/monitor_job.py \
        --output /path/to/rollup_root [--input /path/to/pages] \
        [--anomaly-k 3.0] [--report]

One maintenance pass over a rollup store produced by jobs/rollup_job.py,
combining the three monitoring operators:

  1. exact cross-tier consistency audit (operators/audit.py): 1d vs
     re-aggregated 1h, 1w vs re-aggregated 1d — a silent
     backfill/partial-failure detector;
  2. residual anomaly detection (operators/anomaly.py) on the 1h tier's
     residual column (the compact 1h tier IS the decomposed grid);
  3. crawl-outage detection (operators/diagnostics.py) on the raw pages
     input when --input is given — lag windows over the SPARSE observed
     buckets, never materializing the dense grid.

Everything is codegen aggregates/windows over already-reduced tiers; the
only big-table scan is the optional outage pass over pages (column-pruned
to url+warc_ts).  Exit code 1 if any audit mismatch is found, so the job
can gate a pipeline in an orchestrator; a store of another tier schema
version (sums in another order) raises before Spark starts.  Findings land
in the manifest as status='monitor' lineage rows; --report additionally
writes the mismatch rows to {output}/monitor_report as parquet.
"""
from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--output", required=True, help="rollup store root (from rollup_job)")
    ap.add_argument("--input", default=None, help="pages parquet for outage detection")
    ap.add_argument("--anomaly-k", type=float, default=3.0)
    ap.add_argument("--min-missing", type=int, default=1)
    ap.add_argument("--report", action="store_true", help="write mismatch rows to parquet")
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from stl_decomp_4j_spark.operators.anomaly import residual_anomalies
    from stl_decomp_4j_spark.operators.audit import tier_consistency
    from stl_decomp_4j_spark.operators.bucketize import bucketize
    from stl_decomp_4j_spark.operators.diagnostics import outage_summary
    from stl_decomp_4j_spark.operators.rollup import TIERS
    from stl_decomp_4j_spark.pipeline import TIER_SCHEMA_VERSION
    from stl_decomp_4j_spark.plans.checkpoint import Manifest, check_params, new_run_id
    from stl_decomp_4j_spark.plans.session import build_session

    from pyspark.sql import SparkSession

    check_params(args.output, "tier store", schema_version=TIER_SCHEMA_VERSION)
    # reuse an already-active session (test harness / notebook); only stop
    # what this job itself started
    pre_existing = SparkSession.getActiveSession()
    spark = pre_existing or build_session(app_name="stl-monitor")
    manifest = Manifest(args.output)
    run_id = new_run_id()

    tiers = {name: spark.read.parquet(f"{args.output}/tier_{name}") for name in TIERS}
    summary: dict[str, object] = {"run_id": run_id, "output": args.output}

    # 1. cross-tier audits — both derivations the pipeline itself performs
    audit_counts = {}
    report_frames = []
    for fine, coarse in zip(TIERS, list(TIERS)[1:]):
        mism = tier_consistency(tiers[coarse], tiers[fine], TIERS[coarse])
        n = mism.count()
        audit_counts[f"{fine}->{coarse}"] = n
        if n and args.report:
            report_frames.append(
                mism.withColumn("check", F.lit(f"audit_{fine}_{coarse}"))
                .withColumn("run_id", F.lit(run_id))
            )
    summary["audit_mismatches"] = audit_counts

    # 2. residual anomalies on the compact 1h tier (it IS the decomposed grid)
    anom = residual_anomalies(
        tiers["1h"].select("url", "ts", "value", "residual"), k=args.anomaly_k, sigma="std"
    )
    summary["anomalies"] = anom.count()

    # 3. raw-crawl outages (optional — needs the pages input)
    if args.input:
        pages = spark.read.parquet(args.input).select("url", "warc_ts")
        out = outage_summary(bucketize(pages), granularity="hour")
        gaps = out.filter(F.col("max_missing") >= args.min_missing)
        summary["urls_with_outages"] = gaps.count()
        summary["worst_outage"] = (
            out.orderBy(F.col("max_missing").desc(), "url").limit(1).collect()[0].asDict()
            if summary["urls_with_outages"]
            else None
        )
        if summary["worst_outage"] and summary["worst_outage"].get("worst_gap_start"):
            summary["worst_outage"]["worst_gap_start"] = str(
                summary["worst_outage"]["worst_gap_start"]
            )

    if args.report and report_frames:
        rep = report_frames[0]
        for f in report_frames[1:]:
            rep = rep.unionByName(f)
        rep.write.mode("append").parquet(f"{args.output}/monitor_report")
        summary["report"] = f"{args.output}/monitor_report"

    failed = sum(audit_counts.values()) > 0
    manifest.mark(run_id, -1, "monitor", **{
        "audit_mismatches": audit_counts,
        "anomalies": summary["anomalies"],
        "consistent": not failed,
    })
    print(json.dumps(summary, default=str))
    if pre_existing is None:
        spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""North-rule rollup job, launched via spark-submit:

    python tools/package.py   # builds dist/stl_decomp_4j_spark.zip
    spark-submit --py-files dist/stl_decomp_4j_spark.zip jobs/rollup_job.py \
        --input /path/to/pages_parquet_or_iceberg_table \
        --output /path/to/rollup_root \
        [--period 24] [--seasonal-width 35] [--robust] \
        [--buckets 64] [--incremental]

Reads the (url, warc_ts, html, text, lang) pages table, derives per-url
crawl-activity series, gap-fills, STL-decomposes, and writes 1h/1d/1w
Gorilla-compressed retention tiers with per-bucket lineage + metrics.  The
first run on --output records its parameters in <output>/params.json; a
later run with any other parameter fails before any work (use a fresh
--output for a new config).  --incremental re-runs only the buckets that
are not done or whose data advanced, so it also finishes a crashed run.
"""
from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--period", type=int, default=24)
    ap.add_argument("--seasonal-width", type=int, default=35)
    ap.add_argument("--robust", action="store_true")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="re-run only buckets with no done manifest row or whose "
        "max(warc_ts) advanced past it (crash recovery, and streaming-append "
        "-> periodic-batch refresh)",
    )
    ap.add_argument("--no-compress", action="store_true")
    args = ap.parse_args()

    from stl_decomp_4j_spark.pipeline import PipelineConfig, run_pipeline
    from stl_decomp_4j_spark.plans.session import build_session

    spark = build_session(app_name="stl-rollup")
    if args.input.endswith((".parquet", "/")) or "/" in args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = spark.read.table(args.input)

    cfg = PipelineConfig(
        period=args.period,
        seasonal_width=args.seasonal_width,
        robust=args.robust,
        n_buckets=args.buckets,
        compress=not args.no_compress,
    )
    result = run_pipeline(spark, pages, args.output, cfg, incremental=args.incremental)
    print(
        json.dumps(
            {
                "run_id": result.run_id,
                "buckets_run": result.buckets_run,
                "buckets_skipped": result.buckets_skipped,
                "rows_per_tier": result.rows_per_tier,
                "wall_s": round(result.wall_s, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())

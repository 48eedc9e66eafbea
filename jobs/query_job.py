#!/usr/bin/env python3
"""Range-read job over a rollup_job.py output root, launched via spark-submit:

    spark-submit --py-files dist/stl_decomp_4j_spark.zip jobs/query_job.py \
        --store /path/to/rollup_root --tier 1h \
        [--url https://... ...] [--from 2025-01-05] [--to 2025-01-12] \
        [--columns trend seasonal] [--output /path/to/result_parquet]

Reads the Gorilla-compressed tier store, prunes chunks on (url, t0, t1,
column) metadata — the predicates reach the parquet scan as PushedFilters,
so chunks outside the range are never read, let alone decoded — and decodes
only the survivors.  Without --output, prints row count + a sample; with
it, writes the decoded (url, ts_ms, column, value) rows to parquet.

With --granularity, answers a tier-routed continuous-aggregate read instead
(e.g. --granularity month serves from the 1d tier; see operators/serve.py).
Either read refuses a --store with no params.json (not a tier store).
"""
from __future__ import annotations

import argparse
import datetime as dt
import json
import sys


def run_query(
    spark,
    store: str,
    tier: str = "1h",
    urls: list[str] | None = None,
    ts_min: dt.datetime | None = None,
    ts_max: dt.datetime | None = None,
    columns: list[str] | None = None,
    output: str | None = None,
) -> dict:
    from stl_decomp_4j_spark.operators.compress import prune_chunks, read_range
    from stl_decomp_4j_spark.plans.checkpoint import check_params

    check_params(store, "tier store")
    chunks = spark.read.parquet(f"{store}/gorilla_{tier}")
    pruned = prune_chunks(chunks, urls, ts_min, ts_max, columns)
    rows = read_range(chunks, urls, ts_min, ts_max, columns)
    if output:
        rows.write.mode("overwrite").parquet(output)
        n = spark.read.parquet(output).count()
    else:
        n = rows.count()
    return {
        "tier": tier,
        "chunks_total": chunks.count(),
        "chunks_decoded": pruned.count(),
        "rows": n,
        "output": output,
    }


def serve_query(
    spark,
    store: str,
    granularity: str,
    urls: list[str] | None = None,
    ts_min: dt.datetime | None = None,
    ts_max: dt.datetime | None = None,
    output: str | None = None,
) -> dict:
    """Tier-routed continuous-aggregate read: route the requested
    granularity to the coarsest tier that answers exactly, prune on pushed
    url/ts filters, re-aggregate.  Answers a dashboard month query from the
    1d tier without touching the 1h store."""
    from stl_decomp_4j_spark.operators.serve import route_tier, serve_rollup
    from stl_decomp_4j_spark.plans.checkpoint import check_params

    check_params(store, "tier store")
    name = route_tier(granularity)
    tier = spark.read.parquet(f"{store}/tier_{name}").drop("run_id", "bucket", "slab")
    rows = serve_rollup({name: tier}, granularity, urls, ts_min, ts_max)
    if output:
        rows.write.mode("overwrite").parquet(output)
        n = spark.read.parquet(output).count()
    else:
        n = rows.count()
    return {"granularity": granularity, "served_from": name, "rows": n, "output": output}


def main() -> None:
    from stl_decomp_4j_spark.operators.rollup import TIERS

    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True, help="rollup_job.py --output root")
    ap.add_argument("--tier", default="1h", choices=list(TIERS))
    ap.add_argument(
        "--granularity", default=None,
        help="serve a rollup at this granularity (hour/day/week/month/quarter/year) "
        "from the routed tier table instead of decoding the Gorilla store",
    )
    ap.add_argument("--url", nargs="*", default=None)
    ap.add_argument("--from", dest="ts_min", default=None, help="ISO date/time lower bound")
    ap.add_argument("--to", dest="ts_max", default=None, help="ISO date/time upper bound")
    ap.add_argument("--columns", nargs="*", default=None)
    ap.add_argument("--output", default=None)
    ap.add_argument("--sample", type=int, default=10)
    args = ap.parse_args()

    from stl_decomp_4j_spark.plans.session import build_session

    spark = build_session(app_name="stl-range-read")
    if args.granularity:
        res = serve_query(
            spark,
            args.store,
            args.granularity,
            args.url,
            dt.datetime.fromisoformat(args.ts_min) if args.ts_min else None,
            dt.datetime.fromisoformat(args.ts_max) if args.ts_max else None,
            args.output,
        )
        print(json.dumps(res))
        spark.stop()
        return
    res = run_query(
        spark,
        args.store,
        args.tier,
        args.url,
        dt.datetime.fromisoformat(args.ts_min) if args.ts_min else None,
        dt.datetime.fromisoformat(args.ts_max) if args.ts_max else None,
        args.columns,
        args.output,
    )
    print(json.dumps(res))
    if not args.output and args.sample:
        from stl_decomp_4j_spark.operators.compress import read_range

        chunks = spark.read.parquet(f"{args.store}/gorilla_{args.tier}")
        ts_min = dt.datetime.fromisoformat(args.ts_min) if args.ts_min else None
        ts_max = dt.datetime.fromisoformat(args.ts_max) if args.ts_max else None
        for r in read_range(chunks, args.url, ts_min, ts_max, args.columns).limit(args.sample).collect():
            print(r.asDict())
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())

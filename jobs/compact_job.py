#!/usr/bin/env python3
"""Gorilla-store compaction job, launched via spark-submit:

    spark-submit --py-files dist/stl_decomp_4j_spark.zip jobs/compact_job.py \
        --output /path/to/rollup_root [--tiers 1h,1d,1w]

Merges fragmented Gorilla chunks (file-split boundary chunks from the
shuffle-free presorted 1h sink, leftovers of repeated incremental partition
rewrites) back into maximally-filled chunks of the store's one chunk size,
``compress.CHUNK_POINTS``.  Detection is one metadata-only aggregate per
table; only (bucket, slab) partitions that actually contain fragmented
groups are rewritten (idempotent partition overwrite), and every rewrite
gets a lineage row.  A second pass is a no-op — each group is packed to its
minimum chunk count.  The slab granularity comes from the store's own
params.json, so merged chunks never cross a calendar-slab boundary and
metadata-only retention keeps working.
"""
from __future__ import annotations

import argparse
import json


def main() -> None:
    from stl_decomp_4j_spark.operators.rollup import TIERS

    ap = argparse.ArgumentParser()
    ap.add_argument("--output", required=True)
    ap.add_argument("--tiers", default=",".join(TIERS), help="comma-separated tier names")
    args = ap.parse_args()

    from stl_decomp_4j_spark.operators.compress import compact_store
    from stl_decomp_4j_spark.plans.session import build_session

    spark = build_session(app_name="stl-compact")
    summary = compact_store(
        spark,
        args.output,
        tiers=tuple(t.strip() for t in args.tiers.split(",") if t.strip()),
    )
    print(json.dumps({"output": args.output, "tables": summary}))
    spark.stop()


if __name__ == "__main__":
    main()

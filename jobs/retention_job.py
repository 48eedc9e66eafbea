#!/usr/bin/env python3
"""Retention expiry job, launched via spark-submit:

    spark-submit --py-files dist/stl_decomp_4j_spark.zip jobs/retention_job.py \
        --output /path/to/rollup_root \
        --keep-1h 90 [--keep-1d 730] [--keep-1w -1] \
        [--now 2026-08-17T00:00:00]

Drops wholly-expired (bucket, slab) partitions from the tier and Gorilla
tables (metadata-only — no rows read, no chunks rewritten, no Spark session:
a directory listing and deletes) and records every drop in the lineage
manifest.  Negative keep = keep forever (default for tiers not passed).  The
slab granularity comes from the store's own params.json; a root without one
is refused.
"""
from __future__ import annotations

import argparse
import datetime as dt
import json


def main() -> None:
    from stl_decomp_4j_spark.operators.rollup import TIERS

    ap = argparse.ArgumentParser()
    ap.add_argument("--output", required=True)
    for tier in TIERS:
        ap.add_argument(f"--keep-{tier}", type=int, default=-1,
                        help=f"days of {tier} tier to keep (-1 = forever)")
    ap.add_argument("--now", default=None, help="ISO timestamp for the cutoff clock (default: wall clock)")
    args = ap.parse_args()

    from stl_decomp_4j_spark.operators.retention import apply_retention

    now = dt.datetime.fromisoformat(args.now) if args.now else dt.datetime.now()
    policy = {tier: getattr(args, f"keep_{tier}") for tier in TIERS}
    dropped = apply_retention(args.output, policy, now=now)
    print(json.dumps({
        "now": now.isoformat(),
        "policy": policy,
        "dropped_partitions": sum(len(v) for v in dropped.values()),
        "dropped": dropped,
    }))


if __name__ == "__main__":
    main()

"""Retention expiry: drop whole expired calendar-slab partitions.

The pipeline partitions every tier and Gorilla table by (bucket, slab) where
slab is the calendar slab (default month) containing the row — and Gorilla
chunks are slab-aligned at encode time (compress.py _encode_block), so a
slab directory can never contain bytes younger than the slab's end.  Expiry
is therefore a pure metadata operation: list slab directories, delete the
ones that END on or before the cutoff.  No row is read, no chunk is decoded
or rewritten — the only cost at 10^12-doc scale is a directory listing (on
Iceberg this is dropPartition metadata commits; on parquet a filesystem
delete — same semantics, which is the catalog.py fallback contract).

Semantics (TimescaleDB drop_chunks-style):
  - a slab is dropped only when WHOLLY expired: slab_end + tier bucket
    width <= now - keep.  The bucket-width grace covers tier rows that
    straddle the slab boundary (a week bucket starting Jan 29 lives in the
    January slab but aggregates data through Feb 4), so retention never
    removes data younger than the cutoff and may keep up to one slab plus
    one bucket longer (documented over-retention, never under-retention)
  - retention composes with incremental runs: the manifest's done rows and
    data high-water marks are untouched, so an incremental refresh skips
    unchanged buckets and does NOT resurrect dropped slabs; a full
    recompute regenerates them from raw data (by design — raw retains
    everything)
  - the slab granularity is the store's own, read from its params.json
  - every drop is recorded in the manifest (status='retention') for lineage
"""
from __future__ import annotations

import datetime as dt
import urllib.parse

from pyspark.sql import SparkSession

from ..plans.checkpoint import Manifest, check_params, new_run_id

TIERS = ("1h", "1d", "1w")

# widest span a single tier row/chunk can extend past its slab boundary:
# one tier bucket (rows are slabbed by bucket START timestamp)
TIER_BUCKET_WIDTH = {
    "1h": dt.timedelta(hours=1),
    "1d": dt.timedelta(days=1),
    "1w": dt.timedelta(days=7),
}


def slab_end(start: dt.datetime, slab: str) -> dt.datetime:
    """Exclusive end of the calendar slab beginning at ``start``."""
    if slab == "day":
        return start + dt.timedelta(days=1)
    if slab == "week":
        return start + dt.timedelta(days=7)
    if slab == "month":
        nxt = start.year * 12 + (start.month - 1) + 1
        return start.replace(year=nxt // 12, month=nxt % 12 + 1, day=1)
    raise ValueError(f"slab must be 'day', 'week' or 'month', got {slab!r}")


def _hadoop_fs(spark: SparkSession, root: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path, jvm


def expired_slab_dirs(
    spark: SparkSession, table_root: str, cutoff: dt.datetime, slab: str = "month"
) -> list[tuple[int, str, object]]:
    """(bucket, slab_value, hadoop_path) for every wholly-expired slab
    partition under ``table_root`` (layout bucket=N/slab=YYYY-MM-DD).
    Directory listing only — no data is read."""
    fs, root, jvm = _hadoop_fs(spark, table_root)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("bucket=")):
            continue
        bucket = int(name[len("bucket="):])
        for st2 in fs.listStatus(st.getPath()):
            sname = st2.getPath().getName()
            if not (st2.isDirectory() and sname.startswith("slab=")):
                continue
            value = urllib.parse.unquote(sname[len("slab="):])
            start = dt.datetime.strptime(value, "%Y-%m-%d")
            if slab_end(start, slab) <= cutoff:
                out.append((bucket, value, st2.getPath()))
    return out


def apply_retention(
    spark: SparkSession,
    out_root: str,
    policy: dict[str, int],
    now: dt.datetime,
) -> dict[str, list[str]]:
    """Drop expired slab partitions per tier.

    ``policy`` maps tier name ('1h'/'1d'/'1w') to keep-days; tiers absent
    from the policy (or mapped to a negative value) are kept forever.
    Returns {table: [dropped 'bucket=N/slab=V', ...]}.

    The slab granularity is read from the store's own params.json (the
    pipeline records its config there); a root without one raises
    ValueError.  There is no caller flag for it: a 'day' flag against a
    month-slabbed store would compute month-long slabs as ending a day after
    they start, dropping data weeks younger than the cutoff."""
    unknown = set(policy) - set(TIERS)
    if unknown:
        raise ValueError(f"unknown tiers in retention policy: {sorted(unknown)}")
    slab = check_params(out_root, "tier store")["slab"]
    manifest = Manifest(out_root)
    run_id = new_run_id()
    dropped: dict[str, list[str]] = {}
    for tier_name in TIERS:
        keep = policy.get(tier_name)
        if keep is None or keep < 0:
            continue
        # bucket-width grace: only slabs whose LAST bucket's coverage has
        # wholly expired are dropped (see module docstring)
        cutoff = now - dt.timedelta(days=keep) - TIER_BUCKET_WIDTH[tier_name]
        for table in (f"tier_{tier_name}", f"gorilla_{tier_name}"):
            root = f"{out_root}/{table}"
            for bucket, value, hpath in expired_slab_dirs(spark, root, cutoff, slab):
                fs, _, _ = _hadoop_fs(spark, root)
                fs.delete(hpath, True)
                dropped.setdefault(table, []).append(f"bucket={bucket}/slab={value}")
                manifest.mark(
                    run_id, bucket, "retention",
                    table=table, slab=value, cutoff=cutoff.isoformat(),
                )
    return dropped

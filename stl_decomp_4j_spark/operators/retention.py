"""The store's calendar slab (``slab_start``/``slab_end``) and retention
expiry: drop whole expired calendar-slab partitions.

The pipeline partitions every tier and Gorilla table by (bucket, slab) where
slab is ``slab_start`` (default month) of the row — and Gorilla chunks are
cut at the same slab starts (compress.py), so a slab directory can never
contain bytes younger than the slab's end.  Expiry is therefore a pure
metadata operation: list slab directories, delete the ones that END on or
before the cutoff.  No row is read, no chunk is decoded or rewritten — the
only cost is a directory listing.  The store root is a local directory,
read and written with the same file API as its manifest and params.json.

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
import shutil
import urllib.parse
from pathlib import Path

import pyspark.sql.functions as F

from ..plans.checkpoint import Manifest, check_params, new_run_id
from .gapfill import STEP_SECONDS
from .rollup import TIERS

SLABS = ("day", "week", "month")


def slab_start(slab: str, col):
    """Start of the calendar slab holding each value of timestamp ``col``:
    the store's one slab rule (partition values, Gorilla chunk cuts,
    compaction groups).  Spark's 'week' starts on Monday."""
    if slab not in SLABS:
        raise ValueError(f"slab must be one of {list(SLABS)}, got {slab!r}")
    return F.date_trunc(slab, col)


def slab_end(start: dt.datetime, slab: str) -> dt.datetime:
    """Exclusive end of the calendar slab beginning at ``start``."""
    if slab == "day":
        return start + dt.timedelta(days=1)
    if slab == "week":
        return start + dt.timedelta(days=7)
    if slab == "month":
        nxt = start.year * 12 + (start.month - 1) + 1
        return start.replace(year=nxt // 12, month=nxt % 12 + 1, day=1)
    raise ValueError(f"slab must be one of {list(SLABS)}, got {slab!r}")


def expired_slab_dirs(
    table_root: str, cutoff: dt.datetime, slab: str = "month"
) -> list[tuple[int, str, Path]]:
    """(bucket, slab_value, path) for every wholly-expired slab partition
    under ``table_root`` (layout bucket=N/slab=YYYY-MM-DD), in (bucket,
    slab) order.  Directory listing only — no data is read."""
    out = []
    for path in Path(table_root).glob("bucket=*/slab=*"):
        if not path.is_dir():
            continue
        value = urllib.parse.unquote(path.name[len("slab="):])
        start = dt.datetime.strptime(value, "%Y-%m-%d")
        if slab_end(start, slab) <= cutoff:
            out.append((int(path.parent.name[len("bucket="):]), value, path))
    return sorted(out)


def apply_retention(
    out_root: str,
    policy: dict[str, int],
    now: dt.datetime,
) -> dict[str, list[str]]:
    """Drop expired slab partitions per tier.

    ``policy`` maps tier name (a ``TIERS`` key) to keep-days; tiers absent
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
    for tier_name, grain in TIERS.items():
        keep = policy.get(tier_name)
        if keep is None or keep < 0:
            continue
        # bucket-width grace: only slabs whose LAST bucket's coverage has
        # wholly expired are dropped (see module docstring)
        cutoff = now - dt.timedelta(days=keep, seconds=STEP_SECONDS[grain])
        for table in (f"tier_{tier_name}", f"gorilla_{tier_name}"):
            for bucket, value, path in expired_slab_dirs(f"{out_root}/{table}", cutoff, slab):
                shutil.rmtree(path)
                dropped.setdefault(table, []).append(f"bucket={bucket}/slab={value}")
                manifest.mark(
                    run_id, bucket, "retention",
                    table=table, slab=value, cutoff=cutoff.isoformat(),
                )
    return dropped

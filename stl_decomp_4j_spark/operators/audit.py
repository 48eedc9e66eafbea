"""Cross-tier consistency audit.

A continuous-aggregate store (rollup.py: 1h -> 1d -> 1w) is only trustworthy
if a coarse tier actually equals re-aggregation of the finer tier — bad
backfills, partial job failures, or manual fixes silently break that
invariant, and at 100-TB scale nobody re-reads raw data to notice.  This
operator recomputes the coarse tier from the fine one (the exact
``rollup_tier`` derivation) and emits one row per (bucket, metric) that
disagrees — an empty result IS the audit pass.

Scale shape: the recompute is the ordinary tier rollup (partial+final hash
agg over the fine tier — the same work the nightly rollup does); the stored
side is a pruned scan of the already-reduced coarse tier.  Both sides of the
(url, ts) full-outer join are post-aggregation (the 1d tier is 1/24 of 1h),
the metric unpivot is a codegen Generate (stack), and the mismatch filter drops
everything healthy — so the audit's output is tiny and its cost is one
rollup pass, independent of how many coarse buckets exist.

Every metric is compared exactly: ``rollup_tier`` sums each group in ts
order, so the recompute adds the same doubles in the same order as the
rollup that wrote the stored tier, whatever the files either side reads.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .rollup import rollup_tier


def tier_consistency(stored_coarse: DataFrame, fine: DataFrame, granularity: str) -> DataFrame:
    """Audit ``stored_coarse`` against re-aggregation of ``fine``.

    Returns (url, ts, metric, stored, recomputed): one row per metric value
    that differs — including buckets present on only one side (the other
    side's value is null).  Empty result == consistent.
    """
    recomputed = rollup_tier(fine, granularity)
    metrics = [c for c in recomputed.columns if c not in ("url", "ts")]
    missing = [c for c in metrics if c not in stored_coarse.columns]
    if missing:
        raise ValueError(f"stored tier is missing metric columns: {missing}")

    s = stored_coarse.select(
        "url", "ts", *[F.col(m).cast("double").alias(f"s_{m}") for m in metrics]
    )
    r = recomputed.select(
        "url", "ts", *[F.col(m).cast("double").alias(f"r_{m}") for m in metrics]
    )
    joined = s.join(r, ["url", "ts"], "full_outer")

    stack_args = ", ".join(f"'{m}', s_{m}, r_{m}" for m in metrics)
    unpivoted = joined.selectExpr(
        "url",
        "ts",
        f"stack({len(metrics)}, {stack_args}) AS (metric, stored, recomputed)",
    )
    return unpivoted.filter(~F.col("stored").eqNullSafe(F.col("recomputed")))

"""Tier-routed continuous-aggregate reads.

A dashboard asks for (urls, time range, granularity); the engine answers from
the coarsest retention tier that can answer EXACTLY, never from raw data:

    hour          -> 1h
    day           -> 1d
    week          -> 1w
    month/quarter/year -> 1d   (NOT 1w: ISO weeks straddle month boundaries,
                                so week buckets cannot be reassembled into
                                calendar months; days can)

The exactness claim is the continuous-aggregate invariant (rollup.py): sums
and counts are associative and min/max compose, so re-aggregating tier rows
to any granularity they nest inside equals aggregating the raw grid — the
`tier_route_*` driver queries hash-check this against the reference fixture.

Scale shape: the tier tables are parquet/Iceberg-backed, so the url/ts
predicates land in PushedFilters and a week-range dashboard read over a
years-long 1h table scans only the matching row groups; the re-aggregation
is a partial+final hash agg over the already-reduced tier (the 1d tier is
~1/24th of 1h, 1w ~1/168th).  Serving never touches the STL stage.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from .rollup import TIERS, rollup_tier

# coarsest tier whose buckets nest exactly inside each requested granularity:
# each tier serves its own grain, and the calendar grains that weeks straddle
# are served from days
_ROUTE = {grain: name for name, grain in TIERS.items()}
_ROUTE.update(dict.fromkeys(("month", "quarter", "year"), _ROUTE["day"]))


def route_tier(granularity: str) -> str:
    """Name of the coarsest tier that can serve ``granularity`` exactly."""
    try:
        return _ROUTE[granularity]
    except KeyError:
        raise ValueError(
            f"unroutable granularity {granularity!r}: expected one of {sorted(_ROUTE)}"
        ) from None


def serve_rollup(
    tiers: dict[str, DataFrame],
    granularity: str,
    urls: list[str] | None = None,
    ts_min=None,
    ts_max=None,
) -> DataFrame:
    """Answer a rollup request from the routed tier.

    ``ts_min``/``ts_max`` filter on the tier's bucket timestamps BEFORE
    re-aggregation; pass bounds aligned to ``granularity`` or the boundary
    output buckets cover only the intersection of the request range with the
    bucket (standard dashboard clipping semantics).

    Output always carries the full sum_/min_/max_/cnt schema, whatever the
    routed tier's layout (rollup_tier reconstitutes it from the compact 1h
    tier; at the tier's own granularity the group-by is a no-op regroup of
    already-unique (url, ts) keys).
    """
    tier = tiers[route_tier(granularity)]
    if urls is not None:
        tier = tier.filter(F.col("url").isin(list(urls)))
    if ts_min is not None:
        tier = tier.filter(F.col("ts") >= F.lit(ts_min))
    if ts_max is not None:
        tier = tier.filter(F.col("ts") <= F.lit(ts_max))
    return rollup_tier(tier, granularity)

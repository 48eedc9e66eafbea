"""Read-side serving operators over irregular and tier series.

The tier store answers "aggregate of [t0, t1)" via serve.py; real consumers
of a time-series engine also ask point-in-time questions the reference's
batch decomposition never needed but any tier-backed serving layer must
answer (TimescaleDB calls these hyperfunctions; kdb+ calls the first `aj`):

- ``asof_join``     — for each (key, probe-ts), the latest data row at or
                      before the probe (optionally within a tolerance).
- ``time_weighted_avg`` — per-bucket average of an irregular series where
                      each observation is weighted by how long it was the
                      latest value (LOCF weighting), not by sample count —
                      the correct downsample for unevenly spaced samples.
- ``counter_rate``  — per-bucket increase / per-second rate of a monotonic
                      counter with reset detection (PromQL ``increase()`` /
                      ``rate()``; TimescaleDB ``counter_agg`` → ``delta()`` /
                      ``rate()``).

Scale notes (the reason these are NOT joins):

``asof_join`` is the classic candidate for a range join, which Spark executes
as a broadcast-nested-loop or a cartesian-per-key — quadratic in series
length.  Instead both sides are UNIONED with a marker column and a single
per-key ordered window carries the last data row forward onto each probe row:
one shuffle on the key, one sort, zero joins.  A key with B tier rows and P
probes costs O((B+P) log(B+P)) locally and never fans out.  Probe/data rows
at the same timestamp order data-first, so the match is inclusive (<=),
matching DuckDB/kdb ASOF semantics.

The data row travels as ONE struct column (null on probe rows): `last(struct,
ignorenulls=True)` is row-atomic, so a data row whose VALUE is legitimately
NULL still matches as itself rather than leaking an older row's value.

``time_weighted_avg`` is two hash aggregates and one window, all codegen: the
duplicate-timestamp collapse keys on (key, ts); the LOCF segment window and
the final aggregate share (key, bucket) partitioning so Catalyst inserts no
exchange between them.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    probes: DataFrame,
    data: DataFrame,
    tolerance_s: int | None = None,
) -> DataFrame:
    """Left as-of join: every probe row, matched to the latest ``data`` row
    with ``data.ts <= probe.ts`` on the same ``url`` (inclusive), or NULLs
    when no data precedes the probe (or the match is older than
    ``tolerance_s``).

    Output: probe (url, ts) + every other ``data`` column + ``matched_ts``
    + ``staleness_s`` (seconds since the matched row; NULL when unmatched).
    """
    value_cols = [c for c in data.columns if c not in ("url", "ts")]

    packed = F.struct(
        F.col("ts").alias("_ts"), *[F.col(c).alias(c) for c in value_cols]
    )
    d = data.select(
        F.col("url"), F.col("ts"), packed.alias("_row"), F.lit(0).alias("_p")
    )
    p = probes.select(
        F.col("url"),
        F.col("ts"),
        F.lit(None).cast(d.schema["_row"].dataType).alias("_row"),
        F.lit(1).alias("_p"),
    )
    w = (
        Window.partitionBy("url")
        .orderBy("ts", "_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        d.unionByName(p)
        .withColumn("_m", F.last("_row", ignorenulls=True).over(w))
        .filter(F.col("_p") == 1)
    )
    stale = F.unix_timestamp("ts") - F.unix_timestamp(F.col("_m._ts"))
    if tolerance_s is not None:
        matched = matched.withColumn(
            "_m", F.when(stale <= F.lit(int(tolerance_s)), F.col("_m"))
        )
        stale = F.unix_timestamp("ts") - F.unix_timestamp(F.col("_m._ts"))
    return matched.select(
        "url",
        "ts",
        *[F.col(f"_m.{c}").alias(c) for c in value_cols],
        F.col("_m._ts").alias("matched_ts"),
        stale.alias("staleness_s"),
    )


def time_weighted_avg(
    points: DataFrame,
    granularity: str = "day",
) -> DataFrame:
    """Per (url, bucket) time-weighted average of a (url, ts, value) series.

    Each observation is LOCF-weighted: value v_i counts for (t_{i+1} - t_i)
    seconds, the last observation of a bucket for 0 (it opens no segment
    inside the bucket).  twa = sum(v_i * dt_i) / (t_last - t_first); a bucket
    with a single distinct timestamp degenerates to its (duplicate-averaged)
    value.  Exact duplicates of (key, ts) are collapsed by mean first, so the
    lead() window is deterministic.

    Returns (url, ts=bucket-start, twa, n_points, span_s).
    """
    dedup = points.groupBy(
        F.col("url"), F.col("ts").alias("_t")
    ).agg(F.avg("value").alias("_v"), F.count(F.lit(1)).alias("_n"))
    # the bucket is materialized as a COLUMN (not repeated as an expression)
    # so the final aggregate's required distribution matches the window's
    # output partitioning attribute-for-attribute and needs no new exchange
    dedup = dedup.withColumn("_b", F.date_trunc(granularity, "_t"))
    w = Window.partitionBy(F.col("url"), F.col("_b")).orderBy("_t")
    # timestamp->double epoch keeps sub-second precision (micros/1e6, the
    # same value DuckDB's epoch() computes — unix_timestamp would truncate).
    # The hop through "timestamp" makes TIMESTAMP_NTZ parquet columns castable
    # (instant-preserving: the session timezone is pinned to UTC).
    def _epoch(c):
        return c.cast("timestamp").cast("double")

    seg = dedup.withColumn(
        "_dt", _epoch(F.lead("_t").over(w)) - _epoch(F.col("_t"))
    )
    span = _epoch(F.max("_t")) - _epoch(F.min("_t"))
    return (
        seg.groupBy(F.col("url"), F.col("_b").alias("ts"))
        .agg(
            F.sum(F.col("_v") * F.col("_dt")).alias("_wsum"),
            span.alias("_span"),
            F.sum("_n").alias("n_points"),
            F.min_by("_v", "_t").alias("_v1"),  # deterministic: min-ts row's mean
        )
        .select(
            "url",
            "ts",
            F.when(F.col("_span") > 0, F.col("_wsum") / F.col("_span"))
            .otherwise(F.col("_v1"))
            .alias("twa"),
            "n_points",
            F.col("_span").alias("span_s"),
        )
    )


def counter_rate(
    points: DataFrame,
    granularity: str = "day",
) -> DataFrame:
    """Per-(url, bucket) increase and per-second rate of a (url, ts, value)
    monotonic counter with reset detection — PromQL ``increase()``/``rate()``,
    TimescaleDB ``counter_agg`` → ``delta()``/``rate()``.

    A sample that DROPS below its predecessor marks a counter reset (process
    restart).  The standard adjustment assumes the counter restarted from
    zero: every sample is lifted by the running sum of the pre-reset values
    seen so far, making the adjusted series monotone.  (Like PromQL, any
    increase accrued between the last pre-reset sample and the reset itself
    is lost — both the engine and any oracle must apply the same rule.)

    Per (key, bucket):
      - ``delta``    = adjusted(last sample) - adjusted(first sample)
      - ``rate_per_s`` = delta / (t_last - t_first) seconds; NULL when the
        bucket has a single distinct timestamp (PromQL needs >= 2 samples)
      - ``n_resets`` = drops whose falling sample lands in the bucket
      - ``n_points``, ``span_s``

    Within-bucket semantics (TimescaleDB ``counter_agg``): the increase
    between the previous bucket's last sample and this bucket's first is
    charged to neither bucket.

    Duplicate (key, ts) readings collapse to their max first (under
    monotonicity the later reading of an instant is the larger), so the
    lag() window is deterministic.

    Shape: one hash aggregate for the collapse, then lag + running-sum
    windows sharing a single (key)-partitioned sort, then a partial+final
    hash aggregate on (key, bucket) — whose required clustering is already
    satisfied by the key partitioning, so the window exchange is the only
    shuffle after the collapse.  All codegen; no joins, no Python.
    """
    dedup = points.groupBy(F.col("url"), F.col("ts").alias("_t")).agg(
        F.max("value").alias("_v")
    )
    w = Window.partitionBy("url").orderBy("_t")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("_v").over(w)
    # first row per key: prev is NULL -> comparison NULL -> not a reset
    seg = dedup.withColumn(
        "_reset", F.when(F.col("_v") < prev, F.lit(1)).otherwise(F.lit(0))
    ).withColumn(
        "_adj",
        F.col("_v")
        + F.sum(F.when(F.col("_v") < prev, prev).otherwise(F.lit(0))).over(run),
    )
    seg = seg.withColumn("_b", F.date_trunc(granularity, "_t"))

    def _epoch(c):
        return c.cast("timestamp").cast("double")

    span = _epoch(F.max("_t")) - _epoch(F.min("_t"))
    return (
        seg.groupBy(F.col("url"), F.col("_b").alias("ts"))
        .agg(
            (F.max_by("_adj", "_t") - F.min_by("_adj", "_t")).alias("delta"),
            span.alias("_span"),
            F.sum("_reset").alias("n_resets"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            "url",
            "ts",
            "delta",
            F.when(F.col("_span") > 0, F.col("delta") / F.col("_span")).alias(
                "rate_per_s"
            ),
            "n_resets",
            "n_points",
            F.col("_span").alias("span_s"),
        )
    )

"""tier_consistency: a clean rollup audits empty; corruptions, missing
buckets, extra buckets and cnt drift are each reported precisely."""
import datetime as dt

import pyspark.sql.functions as F
import pytest

from stl_decomp_4j_spark.operators.audit import tier_consistency
from stl_decomp_4j_spark.operators.rollup import hourly_tier, rollup_tier

T0 = dt.datetime(2024, 3, 4, 0, 0, 0)  # a Monday, so week buckets are clean


@pytest.fixture(scope="module")
def tiers(spark):
    rows = []
    for u in ("a", "b"):
        for i in range(7 * 24):
            v = float((i * 37 + (13 if u == "b" else 0)) % 101)
            rows.append((u, T0 + dt.timedelta(hours=i), v, v / 2.0, v / 3.0, v / 6.0))
    dec = spark.createDataFrame(
        rows,
        "url string, ts timestamp, value double, trend double, seasonal double, residual double",
    )
    t1h = hourly_tier(dec)
    return t1h, rollup_tier(t1h, "day")


def test_clean_tier_audits_empty(tiers):
    t1h, t1d = tiers
    assert tier_consistency(t1d, t1h, "day").count() == 0


def test_value_corruption_detected(tiers):
    t1h, t1d = tiers
    bad = t1d.withColumn(
        "sum_value",
        F.when(
            (F.col("url") == "a") & (F.col("ts") == F.lit(T0 + dt.timedelta(days=2))),
            F.col("sum_value") + 5.0,
        ).otherwise(F.col("sum_value")),
    )
    out = tier_consistency(bad, t1h, "day").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.url, r.metric) == ("a", "sum_value")
    assert r.stored == pytest.approx(r.recomputed + 5.0)


def test_missing_and_extra_buckets_detected(tiers):
    t1h, t1d = tiers
    n_metrics = len([c for c in t1d.columns if c not in ("url", "ts")])
    # stored tier lost one bucket -> every metric reported with stored=null
    lost = t1d.filter(
        ~((F.col("url") == "b") & (F.col("ts") == F.lit(T0 + dt.timedelta(days=3))))
    )
    out = tier_consistency(lost, t1h, "day").collect()
    assert len(out) == n_metrics
    assert all(r.stored is None and r.recomputed is not None for r in out)
    # stored tier has a phantom bucket the fine tier never produced
    phantom = t1d.union(
        t1d.filter((F.col("url") == "a") & (F.col("ts") == F.lit(T0))).withColumn(
            "ts", F.lit(T0 + dt.timedelta(days=30))
        )
    )
    out = tier_consistency(phantom, t1h, "day").collect()
    assert len(out) == n_metrics
    assert all(r.recomputed is None and r.stored is not None for r in out)


def test_cnt_is_compared_exactly(tiers):
    t1h, t1d = tiers
    bad = t1d.withColumn(
        "cnt",
        F.when(
            (F.col("url") == "a") & (F.col("ts") == F.lit(T0)), F.col("cnt") + 1
        ).otherwise(F.col("cnt")),
    )
    out = tier_consistency(bad, t1h, "day").collect()
    assert [(r.url, r.metric) for r in out] == [("a", "cnt")]


def test_rejects_schema_missing_metrics(tiers):
    t1h, t1d = tiers
    with pytest.raises(ValueError):
        tier_consistency(t1d.drop("sum_residual"), t1h, "day")

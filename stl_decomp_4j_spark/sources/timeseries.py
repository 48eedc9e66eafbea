"""CSV time-series source/sink parity with the reference's example drivers
(ref: examples/StlPerfTest/StlPerfTest.java:116-177 — the opencsv co2
reader and the 17-significant-digit CSV decomposition dump;
examples/StlDemoRestServer/StlDemoRestServer.java — JSON results shape)."""
from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def read_co2_csv(spark: SparkSession, path: str) -> DataFrame:
    """co2.csv: row,time_years,interpolated -> (idx, time_years, value)."""
    return (
        spark.read.option("header", "true").csv(path)
        .select(
            F.col("row").cast("long").alias("idx"),
            F.col("time_years").cast("double").alias("time_years"),
            F.col("interpolated").cast("double").alias("value"),
        )
    )


def write_decomposition_csv(decomposition, path: str) -> None:
    """Dump one in-memory decomposition at 17 significant digits, matching
    the reference perf harness's row format (data, seasonal, trend, residual)."""
    with open(path, "w") as f:
        for d, s, t, r in zip(
            decomposition.data, decomposition.seasonal, decomposition.trend, decomposition.residual
        ):
            f.write(f"{d:.17E}, {s:.17E}, {t:.17E}, {r:.17E}\n")


def decomposition_to_json(decomposition) -> str:
    """StlResults JSON shape: {time[], value[], seasonal[], trend[],
    residual[], weight[]} (ref: StlDemoRestServer/StlResults.java:8-15);
    ``time`` is the sample index."""
    return json.dumps(
        {
            "time": list(range(len(decomposition.data))),
            "value": list(decomposition.data),
            "seasonal": list(decomposition.seasonal),
            "trend": list(decomposition.trend),
            "residual": list(decomposition.residual),
            "weight": list(decomposition.weights),
        }
    )

"""SparkSession factory with the engine's scale-hygiene defaults.

AQE (coalesce + skew handling) on, Arrow batching for pandas UDFs capped, and
— when an Iceberg runtime jar is on the classpath — a hadoop-catalog Iceberg
configuration.  In this sandbox there is no Iceberg jar, so the sink layer
(sources/catalog.py) falls back to partitioned parquet with dynamic partition
overwrite, which preserves the idempotent-overwrite semantics the
checkpoint/resume design needs.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .malloc import tune_malloc

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS = 10_000


def build_session(
    app_name: str = "stl-decomp-4j-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    warehouse: str | None = None,
) -> SparkSession:
    tune_malloc()
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    master = master or (cores and f"local[{cores}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = SparkSession.builder.appName(app_name)
    if master:
        # a builder master overrides spark-submit's --master; with neither
        # set, Spark's own default applies (--master, else local[*])
        b = b.master(master)
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE partition coalescing stays ON session-wide (relational queries
        # want it at scale).  It decides by shuffle BYTES, the wrong signal
        # for the CPU-heavy STL stage (a few MB of series data,
        # hours of NumPy CPU) — but that stage protects itself with explicit
        # numbered repartition(n, "url") pins (operators/stl_udf.py,
        # operators/gapfill.py): AQE never coalesces a user-specified
        # repartition-by-number shuffle (ShuffleOrigin REPARTITION_BY_NUM).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        # idempotent re-writes of only the partitions present in the new data
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if warehouse:
        b = b.config("spark.sql.warehouse.dir", warehouse)
        # Iceberg hadoop catalog — active only if the iceberg-spark-runtime
        # jar is provided (e.g. --packages org.apache.iceberg:iceberg-spark-
        # runtime-4.0_2.13:<ver>); harmless otherwise.
        b = (
            b.config("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.lake.type", "hadoop")
            .config("spark.sql.catalog.lake.warehouse", warehouse)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

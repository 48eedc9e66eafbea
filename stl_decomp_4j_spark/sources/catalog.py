"""Table sink layer.

On a cluster with the Iceberg runtime jar, tier tables live in an Iceberg
hadoop/hive catalog and writes go through ``df.writeTo(...)`` (commit = atomic
metadata swap).  This sandbox has no Iceberg jar, so the fallback is
partitioned parquet with spark.sql.sources.partitionOverwriteMode=dynamic —
the property the engine actually relies on (idempotent overwrite of exactly
the partitions being rewritten) holds in both backends.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a tier/metrics table; ``path`` is a catalog table name when
    Iceberg is active, a filesystem path otherwise."""
    spark = df.sparkSession
    if _iceberg_available(spark) and not path.startswith(("/", "file:", "s3:", "hdfs:")):
        w = df.writeTo(path)
        if partition_by:
            import pyspark.sql.functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            w.createOrReplace()
        elif mode == "overwrite_partitions":
            w.overwritePartitions()
        else:
            w.append()
        return
    writer = df.write.mode("overwrite" if mode.startswith("overwrite") else mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

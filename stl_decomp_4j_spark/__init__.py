"""stl_decomp_4j_spark — a PySpark-native time-series rollup engine.

Numeric core: bit-faithful NumPy STL (seasonal-trend decomposition by LOESS)
reproducing ServiceNow/stl-decomp-4j semantics; distribution: Spark DataFrame
pipeline (gap-fill + STL in one sorted mapInArrow kernel -> 1h/1d/1w
retention tiers -> Gorilla-compressed sink).
"""

__version__ = "0.1.0"

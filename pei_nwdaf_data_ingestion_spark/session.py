"""SparkSession factory.

Scale design notes (the same settings express intent on a real cluster):
- AQE on: runtime partition coalescing + skew-join splitting replaces manual
  tuning when data volume jumps 100x.
- shuffle.partitions sized to cores locally; on a 1000-executor cluster this
  is the knob you raise (or let AQE coalesce from a high initial value).
- UTC session timezone: required for oracle parity and for any cross-engine
  exchange of timestamps.
- Arrow enabled: every pandas_udf / toPandas crosses the JVM<->Python boundary
  in columnar batches.
- Generated-class cache sized to the registry's working set
  (CODEGEN_CACHE_ENTRIES): Spark compiles each whole-stage and expression
  codegen class once and keeps it in one JVM-wide LRU cache, 100 entries by
  default.  One pass over a dozen registered queries needs ~230 classes and
  the 300-id registry ~3,760, so at 100 every warm pass evicted what the
  next query needed and recompiled most of its plans.  The generated code
  is the same either way; only its reuse changes.  The setting is a static
  SQL conf, and the cache is built once per JVM at its first codegen: the
  size holds when get_spark creates the JVM's first session, and it lasts
  across later stop()/get_spark() cycles in that JVM.  A session some
  other code built first keeps whatever size that code chose.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Distinct generated classes in one pass over all 300 registered ids at
# sf0.01: 3,760 (CodegenMetrics compile count with the cache unbounded).
# Rounded up to a power of two.  Holding them costs ~30 MB of JVM
# Metaspace and ~30 MB of code heap over Spark's default of 100, measured
# after three passes over the registry.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "pei-nwdaf-data-ingestion-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

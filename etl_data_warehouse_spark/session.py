"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the usable
CPU count, single JVM); the configuration is chosen so the same logical
plans scale to a real multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) so the
  shuffle-partition count adapts between sf0.001 tests and 100 TB runs.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  cluster you would raise it (or rely on AQE initialPartitionNum).
- Session timezone pinned to UTC so date/timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.
- Arrow enabled for the (rare) pandas-UDF path and fast toPandas.
- Generated code is kept: Spark compiles each physical plan to Java
  classes and caches them in an LRU of
  ``spark.sql.codegen.cache.maxEntries`` classes (default 100). The
  engine's working set is larger (one 14-query star pass about 280
  classes, one daily operation about 560, the 163-query registry 2,459
  distinct), so at the default every pass recompiles what the pass
  before it compiled. 4096 holds the registry; a cached class costs
  about 8 KB of JVM metaspace (about 20 MB for the registry).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-data-warehouse-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Facts are date-partitioned on disk at scale; let Catalyst prune.
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        # Split small inputs to at least core-count partitions (single
        # row-group files still need explicit repartition in CPU-heavy
        # operators — see dedup/similarity modules).
        .config("spark.sql.files.minPartitionNum", cpus)
        .config("spark.ui.enabled", "false")
        # Static: holds the working set of generated classes (star pass
        # ~280, daily operation ~560, registry 2,459 distinct; Spark's
        # default of 100 thrashes) at ~8 KB of metaspace per class.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    return builder.getOrCreate()

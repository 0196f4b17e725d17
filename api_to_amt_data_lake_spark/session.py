"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same configs are the right defaults on a
real cluster (AQE handles partition coalescing / skew joins at any scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "api_to_amt_data_lake_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, dynamic
      broadcast conversion — the knobs that keep the same plan healthy from
      sf0.001 to 100 TB.
    - shuffle.partitions defaults to SPARK_GRAFT_CPUS (local); on a real
      cluster AQE's coalescePartitions makes the initial number soft.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle and are cluster-location-independent.
    - Arrow enabled for toPandas and the Pandas-UDF paths. Arrow is also
      how every driver-built frame on the gold path enters Spark
      (`plans.contracts.local_frame`): a pyarrow Table becomes a sized
      LocalRelation, where a Python list would become a LogicalRDD
      scanned by Python-worker tasks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Runtime row-level filtering for large shuffle joins: build a
        # bloom filter from the selective side and push it into the probe
        # side's scan. A no-op on broadcast joins (locally everything
        # broadcasts); on a 100 TB fact-to-fact join it prunes the probe
        # scan before the shuffle, which is where most of the bytes die.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    if "local" in os.environ.get("SPARK_GRAFT_MASTER", "local"):
        builder = builder.config("spark.driver.memory",
                                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same configs are the right defaults on a
real cluster (AQE handles partition coalescing / skew joins at any scale).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")
R = TypeVar("R")

# Width of the thread pools that submit independent Spark actions: the
# `run_all` default of the CLI and `pipeline`, and `validate_gold`'s.
POOL_WIDTH = 8


def driver_memory() -> str:
    """`spark.driver.memory` for a local master: SPARK_GRAFT_DRIVER_MEM,
    else half of physical memory capped at 48g. A fixed 48g heap is
    larger than a small host, and the JVM then grows until the host
    runs out of memory instead of collecting."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, 48 * 1024)}m"


def pool_map(spark: SparkSession, fn: Callable[[T], R], items: Iterable[T],
             width: int) -> list[R]:
    """`fn` over `items` from `width` threads; results in input order,
    the first failure (in input order) raised once every call is done.

    Each call runs with the caller's Spark local properties (job group,
    job description, scheduler pool) and session tags: a pool thread is
    a new JVM thread in pinned-thread mode and would otherwise submit
    its jobs untagged. The properties are captured per call, so a call
    that sets its own job description does not relabel its siblings.
    """
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), item)
                   for item in items]
        return [f.result() for f in futures]


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
        builder = builder.config("spark.driver.memory", driver_memory())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

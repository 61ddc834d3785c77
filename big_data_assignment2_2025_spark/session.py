"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime re-plan, partition coalescing, skew-join handling), UTC
session timezone (parity with the DuckDB oracle's naive-UTC timestamps),
Arrow for the few pandas-UDF operators, and shuffle parallelism sized to
the machine rather than the 200-partition default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on:
    the session's local threads and default shuffle partitions."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "big_data_assignment2_2025_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # harmless unless events.parquet stores TIMESTAMP(NANOS), in which
        # case Spark 4 can only read it via the ns-as-long escape hatch
        # (sources/readers.py normalize_event_ts rebuilds the column)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory tuned for the engine.

Local-mode defaults follow the 100 TB design posture: AQE on (runtime
coalesce + skew-join), shuffle partitions sized to cores (not the 200
default), Arrow enabled for every pandas boundary, UTC session timezone
so results compare bit-for-bit against UTC-naive engines (DuckDB).

On a real cluster the same builder applies — only ``master`` and the
memory knobs change; nothing in the engine assumes single-JVM locality.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "world_vaccination_coverage_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes: every knob here is chosen to survive a 1000-executor
    deployment unchanged — AQE handles runtime partition coalescing and
    skew splitting, so ``shuffle_partitions`` is an upper bound, not a
    hand-tuned constant.
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # harmless unless events.ts is physically TIMESTAMP(NANOS): the
        # schema-adaptive sources.registry.load_table probes the footer
        # and only then relies on this legacy long-nanos read
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory tuned for the engine.

The reference hard-codes its parallelism (512/128 reducers —
ReadSSTableDataFile.scala:27, ReadSSTableWithoutSplits.scala:25); we
delegate to AQE instead so the same plan scales from local[32] tests to
a 1000-executor cluster without retuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_builder(app_name: str = "sstable_hadoop_spark",
                    master: str | None = None) -> SparkSession.Builder:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Streaming Python data sources run in a driver-side runner process
    # spawned by the JVM with the JVM's environment — addPyFile does not
    # reach it.  Exporting PYTHONPATH BEFORE the JVM starts makes the
    # package importable there (no-op when site-installed).
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo_dir = os.path.dirname(pkg_dir)
    existing = os.environ.get("PYTHONPATH", "")
    if repo_dir not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (f"{repo_dir}{os.pathsep}{existing}"
                                    if existing else repo_dir)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's default coalescing: a reducer partition targets
        # total/defaultParallelism bytes, capped at the 64 MiB advisory
        # size and floored at the 1 MiB minPartitionSize — metadata-sized
        # shuffles collapse to one task, mid-size ones use every core.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # driver testdata parquet carries TIMESTAMP(NANOS) columns, which
        # vanilla Spark rejects; read them as nano-epoch longs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder


def get_session(app_name: str = "sstable_hadoop_spark") -> SparkSession:
    spark = session_builder(app_name).getOrCreate()
    # Register the sstable data source once per session (idempotent).
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    return spark

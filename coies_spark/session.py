"""SparkSession factory tuned for the engine.

Local-mode defaults match the sandbox (local[32], one JVM); the same
config block is what we'd pass to ``spark-submit --py-files`` on a real
cluster, where ``master`` comes from the cluster manager instead.
AQE is always on: it supplies runtime skew-join splitting and partition
coalescing (SURVEY.md §4), which the 10^12-turn design point relies on.

Python workers fork from ``coies_spark.pydaemon``
(``spark.python.daemon.module``), pyspark's daemon with one change: on
CPython < 3.13 the per-task ``importlib.invalidate_caches()`` re-reads a
zip archive on the worker's import path (pyspark.zip, py4j, the Spark
core jar) only when the archive has changed, which takes a Python task's
start from ~120 ms to ~10-20 ms on local[4].  The workers must be able to
import ``coies_spark``, as they already must for the pipeline's UDFs;
``extra_conf`` can select another daemon module.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "coies-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(
        DEFAULT_SHUFFLE_PARTITIONS, cores
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "coies_spark.pydaemon")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

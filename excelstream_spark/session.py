"""SparkSession factory tuned for the target: a large multi-executor
cluster (AQE, broadcast thresholds, Arrow) while remaining correct on
``local[N]`` for tests.

Every knob here is cluster-safe: nothing assumes local mode except the
``master`` default, which is only applied when no master is configured.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session we build.  These are chosen for a
#: 100 TB-scale workload: AQE handles runtime partition coalescing and
#: skew joins; Arrow keeps the Python<->JVM boundary columnar.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # parquet scans: keep row-group pruning + vectorized reader on
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # 32 MB broadcast threshold: dimension tables (region/nation/customer/
    # supplier/part at any SF we test) broadcast instead of shuffling.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Some upstream parquet is written with TIMESTAMP(NANOS), which the
    # vectorized reader rejects; read as long and restore in tables.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
}


def get_spark(app_name: str = "excelstream_spark", **extra_confs: str) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``local[$SPARK_GRAFT_CPUS]`` is used only when the environment does not
    already define a master (i.e. unit tests / local bench); on a real
    cluster the submitted master wins.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if "spark.master" not in os.environ.get("SPARK_CONF", "") and not os.environ.get("MASTER"):
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
    for key, value in {**_DEFAULT_CONFS, **extra_confs}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

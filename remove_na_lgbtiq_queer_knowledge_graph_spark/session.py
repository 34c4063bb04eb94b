"""SparkSession factory.

Tuned for the driver harness (local[32], 128 GiB) but every knob here is
what you'd set on a real cluster too: AQE on (runtime skew-join and
partition coalescing), UTC session timezone (oracle comparability),
shuffle partitions sized to cores rather than the 200 default, Arrow on
for the pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "remove_na_kg_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark wraps every DataFrame/Column call in a call-site
        # capture: a Python stack walk plus ~4 py4j round trips per
        # call, and the SPARQL compiler makes hundreds of calls per
        # text.  Off, runtime errors lose the Python file:line
        # DataFrame context (the JVM error itself is unchanged).  Set
        # here, not later: PySpark caches the flag on its first read.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

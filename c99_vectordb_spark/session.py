"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are the ones that
matter at cluster scale too: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for the pandas-UDF boundary,
and a shuffle-partition count sized for the test machine (on a real
1000-executor cluster this would be raised or left to AQE's
coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "c99_vectordb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        # some driver testdata vintages carried TIMESTAMP(NANOS) parquet
        # columns, which Spark rejects by default; allow reading them as
        # BIGINT nanos — functions.text.normalize_event_time converts
        # either vintage to canonical (ts TIMESTAMP_NTZ, ts_us BIGINT)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


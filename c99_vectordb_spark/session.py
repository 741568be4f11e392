"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are the ones that
matter at cluster scale too: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for the pandas-UDF boundary,
and a shuffle-partition count sized for the test machine (on a real
1000-executor cluster this would be raised or left to AQE's
coalescing with a high initial value).

No CLI verb calls it: each one runs in its own process, on the
rows it parsed, with no JVM (``cli``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "c99_vectordb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
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
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def driver_memory() -> str:
    return os.environ.get("SPARK_DRIVER_MEM", "8g")


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Give a compute-dense, byte-small stage the whole cluster.

    A small single-file parquet table arrives as ONE input split, and
    AQE's byte-sized coalescing folds a small keyed shuffle back to one
    task; neither can see per-row compute that is heavy (64-dim dot
    products, per-doc signature UDFs, codec stages, 64x hash fan-outs).
    This repartitions to an EXPLICIT, cluster-derived count (planned as
    REPARTITION_BY_NUM, which AQE never coalesces), hashed on ``keys``,
    or round-robin when none are given. The shuffle moves only the
    small input rows; the compute after it gains every core."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)

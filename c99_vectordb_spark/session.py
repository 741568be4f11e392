"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are the ones that
matter at cluster scale too: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for the pandas-UDF boundary,
and a shuffle-partition count sized for the test machine (on a real
1000-executor cluster this would be raised or left to AQE's
coalescing with a high initial value).

``java_options`` starts a NEW driver JVM with extra flags; the CLI
passes its short-lived-process profile (``cli.CLI_JAVA_OPTIONS``: C1-only
JIT, serial GC, JVM logging on stderr, plus the flag of its class-data
archive, ``class_archive``) and its session confs (``conf``:
``cli.CLI_CONF``), while tests, ``bench.py`` and the registry keep the
JVM defaults, whose C2 compiler pays off in a long-lived session, and
never touch the archive cache. The flags
go through ``spark.driver.defaultJavaOptions``, not ``extraJavaOptions``:
a user's ``--driver-java-options`` (e.g. in ``PYSPARK_SUBMIT_ARGS``)
replaces ``spark.driver.extraJavaOptions`` outright, whereas
``defaultJavaOptions`` is prepended to it, so both survive. A user's own
``spark.driver.defaultJavaOptions`` is replaced when ``java_options`` is
given. They reach only a JVM this call launches; an already-running
one keeps the flags it was started with.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "c99_vectordb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    java_options: str | None = None,
    conf: dict[str, str] | None = None,
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
    if java_options:
        builder = builder.config("spark.driver.defaultJavaOptions", java_options)
    for k, v in (conf or {}).items():
        builder = builder.config(k, v)
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

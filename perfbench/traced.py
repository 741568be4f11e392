"""One memo verb with layer timers: ``python traced.py SPANS_JSON ARGV...``.

Runs ``c99_vectordb_spark.cli.main(ARGV)`` in this process, exactly as
``python -m c99_vectordb_spark.cli ARGV`` would, with timers around the
public functions the verb calls into. Stdout, stderr and the exit code
are the CLI's own; the spans go to SPANS_JSON as ``{"spans": {layer:
seconds}, "counts": {...}}``. ``import`` and ``main`` are the two
top-level spans; every other span lies inside ``main`` and none nests
in another: a call made inside an open span is not timed again. Spark
work is counted through a job group and the status tracker, which work
with the UI disabled; the counts are comparable only between runs at
the same position in a fresh process.
"""

from __future__ import annotations

import functools
import json
import sys
import time

JOB_GROUP = "perfbench-traced"


def main() -> int:
    out_path, argv = sys.argv[1], sys.argv[2:]
    spans: dict[str, float] = {}
    counts: dict[str, int] = {}

    def add(name: str, seconds: float) -> None:
        spans[name] = spans.get(name, 0.0) + seconds

    depth = 0

    def timed(name, fn):
        """``fn`` timed into span ``name``, unless another span is open:
        a span's time is never counted twice."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            nonlocal depth
            if depth:
                return fn(*args, **kwargs)
            depth += 1
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                depth -= 1
                add(name, time.perf_counter() - t)

        return wrapper

    t = time.perf_counter()
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from c99_vectordb_spark import cli, session
    from c99_vectordb_spark.operators import recall
    from c99_vectordb_spark.sources import yaml_io

    add("import", time.perf_counter() - t)

    get_spark = session.get_spark

    def traced_get_spark(*args, **kwargs):
        spark = get_spark(*args, **kwargs)
        spark.sparkContext.setJobGroup(JOB_GROUP, "traced memo verb")
        return spark

    session.get_spark = timed("session.get_spark", traced_get_spark)
    yaml_io.load_records_yaml = timed("yaml_io.load_records_yaml", yaml_io.load_records_yaml)
    yaml_io.save_records_yaml = timed("yaml_io.save_records_yaml", yaml_io.save_records_yaml)
    # the embed UDF and the parquet write of ``<base>.emb``
    cli._write_embeddings = timed("cli._write_embeddings", cli._write_embeddings)

    recall_frame = recall.recall

    def traced_recall(*args, **kwargs):
        frame = recall_frame(*args, **kwargs)
        frame.collect = timed("recall.collect", frame.collect)
        return frame

    recall.recall = traced_recall
    # reindex's counts before and after compaction: the first one runs
    # the parse into the cache
    DataFrame.count = timed("DataFrame.count", DataFrame.count)

    stop = SparkSession.stop

    def traced_stop(spark):
        tracker = spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(JOB_GROUP)
        stages: set[int] = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        # a stage that AQE or the shuffle reuse skipped ran no task
        ran = [tracker.getStageInfo(s) for s in stages]
        ran = [s for s in ran if s is not None and s.numCompletedTasks > 0]
        counts["spark_jobs"] = len(jobs)
        counts["spark_stages"] = len(ran)
        counts["spark_tasks"] = sum(s.numCompletedTasks for s in ran)
        return stop(spark)

    SparkSession.stop = timed("session.stop", traced_stop)

    t = time.perf_counter()
    rc = cli.main(argv)
    add("main", time.perf_counter() - t)
    sys.stdout.flush()
    with open(out_path, "w") as f:
        json.dump({"spans": spans, "counts": counts}, f)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Round-13 measurement harness (guide §1: measure first).

Times registry queries standalone with the noop sink (min of N runs,
warm), captures ``explain("formatted")`` into plans/r13/, and records
per-query JOB and STAGE counts from the status tracker — the fixed
per-job scheduler overhead is the dominant cost at bench scale, so job
count is the first thing to look at for every slow query here.

Usage:
  python tools/measure_r13.py [--runs N] [--suffix before|after|none]
                              [--no-plan] name [name ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the usable CPUs).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13"
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--suffix", default="none", help="plan file suffix")
    ap.add_argument("--no-plan", action="store_true")
    args = ap.parse_args()

    from c99_vectordb_spark import queries_registry as QR
    from c99_vectordb_spark.session import get_spark

    spark = get_spark("measure_r13")
    sc = spark.sparkContext
    qs = QR.queries()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()  # warm JVM

    out: dict[str, dict] = {}
    for name in args.names:
        fn = qs.get(name)
        if fn is None:
            print(f"measure: unknown query {name}", file=sys.stderr)
            continue
        if not args.no_plan and args.suffix != "none":
            os.makedirs(PLANS, exist_ok=True)
            plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(PLANS, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        runs = []
        jobs0 = stages0 = 0
        for i in range(args.runs):
            st = sc.statusTracker()
            j0 = len(st.getJobIdsForGroup(None) or [])
            sc.setJobGroup(f"m_{name}_{i}", f"measure {name} run {i}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            ids = sc.statusTracker().getJobIdsForGroup(f"m_{name}_{i}") or []
            if i == args.runs - 1:
                jobs0 = len(ids)
                stages0 = 0
                for jid in ids:
                    ji = sc.statusTracker().getJobInfo(jid)
                    if ji is not None:
                        stages0 += len(ji.stageIds)
            sc.setJobGroup(None, None)
        out[name] = {
            "runs": runs,
            "best": min(runs),
            "jobs": jobs0,
            "stages": stages0,
        }
        print(f"{name}: {runs} jobs={jobs0} stages={stages0}", file=sys.stderr)
    print(json.dumps(out, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

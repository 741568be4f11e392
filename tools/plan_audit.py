#!/usr/bin/env python
"""Registry-wide physical-plan audit.

Builds every __spark_entry__.queries() plan (lazy — no execution) and
tabulates the scale-relevant plan features: parquet scans, shuffle
exchanges, broadcast exchanges, sort-merge vs hash joins, BNLJ /
CartesianProduct occurrences, window operators, and whole-stage-codegen
span count. Writes PLAN_AUDIT.md sorted by shuffle count so the
heaviest plans surface first.

This is the audit the plan-guard test enforces pointwise
(tests/test_plan_guard.py: no unpartitioned windows, no cartesian
products, BNLJ only allowlisted) — here materialized as a reviewable
artifact across the whole registry.

Usage: python tools/plan_audit.py [out.md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

FEATURES = {
    "scans": r"Scan parquet",
    "shuffles": r"Exchange (?:hash|range|Single)",
    "broadcasts": r"BroadcastExchange",
    "smj": r"SortMergeJoin",
    "bhj": r"BroadcastHashJoin",
    "shj": r"ShuffledHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "windows": r"\bWindow\b|RunningWindowFunction",
    "aqe": r"AdaptiveSparkPlan",
}


def audit_plan(plan: str) -> dict[str, int]:
    # note: WholeStageCodegen spans are not visible in the lazy AQE
    # plan string (they materialize at execution), so codegen coverage
    # is not tabulated here; the guard for staying JVM-side is the
    # no-row-at-a-time-UDF design rule, not this audit
    return {k: len(re.findall(pat, plan)) for k, pat in FEATURES.items()}


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"
    )
    import __spark_entry__ as entry
    from c99_vectordb_spark.session import get_spark

    spark = get_spark("plan_audit", shuffle_partitions=8)
    rows: list[tuple[str, dict[str, int]]] = []
    errors: list[tuple[str, str]] = []
    try:
        for name, fn in entry.queries().items():
            try:
                df = fn(spark, SF_DIR)
                plan = df._jdf.queryExecution().executedPlan().toString()
            except Exception as exc:  # noqa: BLE001 — report, keep auditing
                errors.append((name, f"{type(exc).__name__}: {exc}"[:200]))
                continue
            rows.append((name, audit_plan(plan)))
    finally:
        spark.stop()

    rows.sort(key=lambda r: (-r[1]["shuffles"], r[0]))
    cols = ["shuffles", "scans", "broadcasts", "smj", "bhj", "shj",
            "bnlj", "windows"]
    lines = [
        "# PLAN AUDIT — physical-plan features per registry query",
        "",
        f"Generated by tools/plan_audit.py at {SF_DIR} (plan-only, no execution).",
        "Sorted by shuffle-exchange count: every shuffle is a full",
        "repartition of its input at 100 TB, so the top of this table is",
        "where optimization attention belongs. BNLJ occurrences are",
        "cross-checked against the plan-guard allowlist",
        "(tests/test_plan_guard.py); CartesianProduct is banned outright",
        "and therefore has no column (the guard fails any occurrence).",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "|".join("---" for _ in cols) + "|",
    ]
    for name, r in rows:
        lines.append(
            f"| {name} | " + " | ".join(str(r[c]) for c in cols) + " |"
        )
    if errors:
        lines += ["", "## Plan-build errors", ""]
        lines += [f"- `{n}`: {e}" for n, e in errors]
    totals = {c: sum(r[c] for _, r in rows) for c in cols}
    lines += [
        "",
        f"**{len(rows)} queries audited**; totals: "
        + ", ".join(f"{c}={totals[c]}" for c in cols)
        + f"; cartesian products: {sum(r[1]['cartesian'] for r in rows)} (must be 0).",
    ]
    with open(out_path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}: {len(rows)} queries, {len(errors)} errors")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""P1-P3, A1-A6, O3/O4 — the ``analyze`` relational read path.

Reference behavior (/root/reference/memo_cli.py:636-692 command_analyze,
:543-578 projection, :581-633 print_stats; SURVEY.md §2.2/§2.5/§2.6):
filter the record table on metadata, then EITHER project fields with
limit/offset pagination, OR compute per-field statistics (distinct
cardinality, top-4 value counts + "other" rollup, all-or-nothing
numeric min/max/avg, all-or-nothing ISO-date range).

Spark shapes (all pure Catalyst — filters push into the parquet scan,
only referenced columns are read):

- projection page: ``filter -> select -> orderBy(id) -> offset -> limit``
- value counts:    ``filter -> groupBy(value) -> count`` (partial
  aggregation map-side; the shuffle moves one row per distinct value)
- numeric/date stats: single full aggregate with conditional branches —
  one pass, no shuffle beyond the final 1-row combine.

Determinism: the reference's top-4 tie-break is Counter insertion
order (first-seen id); ours is (count desc, value asc) — documented
deviation, encoded identically in the oracle SQL (SURVEY.md §7 risk 4).

These serve the registry's queries. The CLI's ``analyze`` runs the
reference's loop instead, in its own process over the YAML rows it
parsed (``cli.cmd_analyze``): a ``Counter`` with the reference's
tie-break, and ``float(str(v))`` and ``datetime.fromisoformat`` for the
ranges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..model import STATS_TOP_N
from .filters import Resolver, compile_filter


def matched(df: DataFrame, filter_expr, resolver: Resolver, nonempty=None) -> DataFrame:
    """The filtered match set (A1 'Matched: N' is just .count())."""
    return df.filter(compile_filter(filter_expr, resolver, nonempty=nonempty))


def profile_table(df: "DataFrame", columns: list[str]) -> "DataFrame":
    """Data-quality profile: one row per column with null count, exact
    distinct count, and lexicographic min/max of the string rendering —
    the ingestion-gate report a pipeline runs before accepting a drop.

    One SCAN of the data (not one pass through the aggregate: multiple
    exact count_distinct on different columns force Spark's
    Expand-based multi-distinct plan, which replicates each input row
    once per profiled column before the shuffle — cost grows linearly
    in len(columns)). That trade buys oracle-exact distincts at test
    scale; at 100 TB swap count_distinct for approx_count_distinct,
    which genuinely fuses all columns into one partial-aggregated pass
    with no Expand (same report schema — the documented scale default).
    The literal-size explode pivot at the end is free.
    """
    aggs = []
    for c in columns:
        sc = F.col(c).cast("string")
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"__n_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"__d_{c}"),
            F.min(sc).alias(f"__mn_{c}"),
            F.max(sc).alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__n_{c}").alias("n_nulls"),
                F.col(f"__d_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_str"),
                F.col(f"__mx_{c}").alias("max_str"),
            )
            for c in columns
        ]
    )
    return one.select(F.explode(cols).alias("p")).select(
        "p.col_name", "p.n_nulls", "p.n_distinct", "p.min_str", "p.max_str"
    )


def value_counts_with_other(
    matches: DataFrame,
    value: Column,
    top_n: int = STATS_TOP_N,
) -> DataFrame:
    """A2/A3/A4 — stringified value counts: top-N rows plus an
    ``__other__`` rollup row carrying (residual count, residual distinct).

    Output schema: (value STRING, cnt BIGINT, distinct_cnt BIGINT) where
    distinct_cnt is 1 for real values and the residual cardinality for
    the rollup row. Nulls (missing key) excluded first
    (memo_cli.py:583-586).

    Scale shape: top-N via ``orderBy().limit(N)`` — Spark plans that as
    TakeOrderedAndProject (per-partition heaps, no global sort, no
    single-task window). The rollup is a broadcast anti-join of the
    distinct-value counts against the N winners, then one aggregate.
    Safe for high-cardinality values (user-id-as-metadata).
    """
    counts = (
        matches.select(value.alias("value"))
        .filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        counts.orderBy(F.desc("cnt"), F.asc("value"))
        .limit(top_n)
        .select("value", "cnt", F.lit(1).cast("long").alias("distinct_cnt"))
    )
    other = (
        counts.join(F.broadcast(top.select("value")), "value", "left_anti")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("cnt"),
            F.count(F.lit(1)).alias("distinct_cnt"),
        )
        .filter(F.col("cnt") > 0)
        .select(F.lit("__other__").alias("value"), "cnt", "distinct_cnt")
    )
    return top.unionByName(other)


def numeric_stats(matches: DataFrame, value: Column) -> DataFrame:
    """A5 — all-or-nothing ``float(str(v))`` coercion: stats appear only
    if EVERY non-null value parses as a number (memo_cli.py:600-609).

    Output: one row (n BIGINT, numeric_ok BOOLEAN, min/max/avg DOUBLE
    nullable). Single full aggregate, no shuffle.
    """
    v = value.cast("string")
    num = v.try_cast("double")  # non-numeric -> NULL (ANSI-safe)
    agg = matches.select(v.alias("v"), num.alias("n")).filter(
        F.col("v").isNotNull()
    )
    return agg.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bool_and(F.col("n").isNotNull()), F.lit(False)).alias(
            "numeric_ok"
        ),
        F.min("n").alias("vmin"),
        F.max("n").alias("vmax"),
        F.avg("n").alias("vavg"),
    ).select(
        "n",
        "numeric_ok",
        F.when(F.col("numeric_ok"), F.col("vmin")).alias("vmin"),
        F.when(F.col("numeric_ok"), F.col("vmax")).alias("vmax"),
        F.when(F.col("numeric_ok"), F.col("vavg")).alias("vavg"),
    )


def date_stats(matches: DataFrame, value: Column) -> DataFrame:
    """A6 — all-or-nothing ISO-8601 *string* date range ('Z' -> UTC);
    non-string values (YAML-native dates) never produce a range
    (memo_cli.py:529-539, 620-633). Output: one row
    (n BIGINT, date_ok BOOLEAN, dmin/dmax STRING yyyy-MM-dd)."""
    v = value
    ts = F.coalesce(
        F.try_to_timestamp(F.regexp_replace(v, "Z$", "+00:00")),
        F.try_to_timestamp(v, F.lit("yyyy-MM-dd")),
    )
    agg = matches.select(v.alias("v"), ts.alias("ts")).filter(F.col("v").isNotNull())
    return agg.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bool_and(F.col("ts").isNotNull()), F.lit(False)).alias("date_ok"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("mn"),
        F.date_format(F.max("ts"), "yyyy-MM-dd").alias("mx"),
    ).select(
        "n",
        "date_ok",
        F.when(F.col("date_ok"), F.col("mn")).alias("dmin"),
        F.when(F.col("date_ok"), F.col("mx")).alias("dmax"),
    )

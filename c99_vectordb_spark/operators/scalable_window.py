"""Scalable replacements for unpartitioned global windows.

A ``Window.orderBy(...)`` with no ``partitionBy`` forces Spark to move
every row into ONE task (``WindowExec`` warns "Moving all data to a
single partition") — correct at sf0.1, fatal at 100 TB.  These helpers
re-express the two global-window shapes we need (dense global rank and
running prefix aggregate) as the classic two-pass range-partition
scheme:

1. ``repartitionByRange`` on the order columns, so partition *i* holds
   a contiguous slice of the total order (RangePartitioner samples the
   key distribution, so slices are balanced even under value skew);
2. one tiny per-partition aggregate (count / max), collected to the
   driver — ONE ROW PER PARTITION, a few KB even at 10k partitions;
3. a broadcast prefix-scan of those aggregates stitched onto a
   per-partition LOCAL window (``partitionBy(_pid)``), which Spark
   executes with full parallelism.

Same algebra as the global window, no single-task stage anywhere.

Checkpoint footprint: ``pre_range`` eagerly ``localCheckpoint``s the
range-shuffled dataset to executor-local block storage. That is one
materialized copy of the input — parallel, partition-sized blocks, no
driver involvement — held until the checkpointed RDD goes out of
reference, at which point Spark's ContextCleaner drops the blocks
asynchronously. At real scale, budget executor storage for one extra
copy of the stitched dataset per in-flight stitched plan, and reuse a
single ``pre_range`` across multiple stitched ops over the same order
(the ops detect an already-ranged input and will NOT re-checkpoint;
see ``tests/test_scalable_window.py``).

Prefix distribution: the per-partition prefix (offset / max / sum) is
attached either as a ``create_map`` literal (small partition counts)
or, above ``_PREFIX_LITERAL_MAX`` partitions, as an explicit broadcast
hash join on the partition id — a ~10k-partition literal map would be
a ~20k-node expression tree, past janino's ~5k-node whole-stage
codegen ceiling, forcing the stage to run interpreted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

_PID = "__sw_pid"

#: Above this many partitions the prefix ships as a broadcast-joined
#: table instead of a create_map literal (2 expression nodes per
#: partition; stay far below the ~5k-node codegen ceiling).
_PREFIX_LITERAL_MAX = 256


def pre_range(df: DataFrame, order_cols: list[Column]) -> DataFrame:
    """Range-partition on the order columns and tag the partition id.

    Eagerly localCheckpointed: the per-partition aggregate (pass 1) and
    the stitched output (pass 2) both consume this shuffle, and the
    checkpoint also pins the partitioning so the sampled range
    boundaries cannot differ between the two passes.

    Idempotent: an input that already carries the partition-id column
    is returned as-is, so composing several stitched ops over the same
    total order costs ONE shuffle + ONE checkpoint — call ``pre_range``
    once and feed the result to each op.
    """
    if _PID in df.columns:
        return df
    return (
        df.repartitionByRange(*order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


_ranged = pre_range


def _attach_prefix(
    ranged: DataFrame, mapping: dict, cast_type: T.DataType, out_col: str
) -> DataFrame:
    """Attach per-partition prefix values as ``out_col`` (NULL on miss).

    Literal ``create_map`` lookup for small partition counts; explicit
    broadcast hash join above ``_PREFIX_LITERAL_MAX`` so the expression
    tree stays inside whole-stage codegen limits at 10k+ partitions.
    """
    if not mapping:
        return ranged.withColumn(out_col, F.lit(None).cast(cast_type))
    if len(mapping) <= _PREFIX_LITERAL_MAX:
        prefmap = F.create_map(
            *[x for k, v in mapping.items() for x in (F.lit(k), F.lit(v))]
        )
        return ranged.withColumn(out_col, prefmap[F.col(_PID)].cast(cast_type))
    schema = T.StructType(
        [
            T.StructField(_PID, T.IntegerType(), False),
            T.StructField(out_col, cast_type, True),
        ]
    )
    pref = ranged.sparkSession.createDataFrame(
        [(int(k), v) for k, v in mapping.items()], schema
    )
    return ranged.join(F.broadcast(pref), on=_PID, how="left")


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "rank",
) -> DataFrame:
    """1-based global rank in ``order_cols`` order, no global window.

    ``order_cols`` must be a total order (include a unique tie-break) —
    with ties the rank among equal keys follows the local sort and is
    nondeterministic, exactly like ``row_number`` over a non-total order.
    """
    had_pid = _PID in df.columns
    ranged = pre_range(df, order_cols)
    counts = ranged.groupBy(_PID).count().orderBy(_PID).collect()
    offsets, acc = {}, 0
    for r in counts:
        offsets[r[_PID]] = acc
        acc += r["count"]
    wlocal = Window.partitionBy(_PID).orderBy(*order_cols)
    out = (
        _attach_prefix(ranged, offsets, T.LongType(), "__sw_off")
        .withColumn(out_col, F.col("__sw_off") + F.row_number().over(wlocal))
        .drop("__sw_off")
    )
    return out if had_pid else out.drop(_PID)


def dense_rank_stitch(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "drank",
) -> DataFrame:
    """1-based global DENSE rank in ``order_cols`` order, no global
    window — the stitched sibling of :func:`global_rank` for callers
    that need equal keys to SHARE a rank (the suffix-array prefix-
    doubling levels, where the rank IS the 2^k-gram identity).

    Correctness leans on RangePartitioner semantics: equal keys always
    land in the same range partition, so the per-partition offset is
    the count of DISTINCT keys in earlier partitions and local
    ``dense_rank`` + offset is exactly the global dense rank.

    PRECONDITION: order-column values must be non-NULL. The offset
    pass uses ``count_distinct``, which EXCLUDES a NULL-keyed group
    that the local ``dense_rank`` still ranks — a NULL key would shift
    every later partition's ranks down by one, silently colliding two
    distinct keys across the boundary (review finding). Callers with
    nullable keys must coalesce to a sentinel first, exactly as the
    suffix-array levels do.
    """
    had_pid = _PID in df.columns
    ranged = pre_range(df, order_cols)
    counts = (
        ranged.groupBy(_PID)
        .agg(F.count_distinct(*order_cols).alias("__sw_d"))
        .orderBy(_PID)
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for r in counts:
        offsets[r[_PID]] = acc
        acc += r["__sw_d"]
    wlocal = Window.partitionBy(_PID).orderBy(*order_cols)
    out = (
        _attach_prefix(ranged, offsets, T.LongType(), "__sw_off")
        .withColumn(
            out_col,
            (F.col("__sw_off") + F.dense_rank().over(wlocal)).cast("long"),
        )
        .drop("__sw_off")
    )
    return out if had_pid else out.drop(_PID)


def running_max(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out_col: str = "runmax",
) -> DataFrame:
    """Running max of ``value`` over the global ``order_cols`` order
    (ROWS UNBOUNDED PRECEDING .. CURRENT ROW), no global window.

    Pass 2 broadcasts each partition's max; partition *i*'s running max
    is ``greatest(local running max, max of all partitions < i)``.
    """
    had_pid = _PID in df.columns
    ranged = pre_range(df, order_cols).withColumn("__sw_val", value)
    pmax = (
        ranged.groupBy(_PID).agg(F.max("__sw_val").alias("m")).orderBy(_PID).collect()
    )
    prefix, best = {}, None
    for r in pmax:  # max over all strictly-earlier partitions
        if best is not None:
            prefix[r[_PID]] = best
        if r["m"] is not None and (best is None or r["m"] > best):
            best = r["m"]
    wlocal = Window.partitionBy(_PID).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = F.max("__sw_val").over(wlocal)
    # greatest() ignores NULLs, so a missing carried max falls back to local
    out = (
        _attach_prefix(
            ranged, prefix, ranged.schema["__sw_val"].dataType, "__sw_carried"
        )
        .withColumn(out_col, F.greatest(local, F.col("__sw_carried")))
        .drop("__sw_carried", "__sw_val")
    )
    return out if had_pid else out.drop(_PID)


def running_sum(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out_col: str = "runsum",
) -> DataFrame:
    """Running sum of ``value`` over the global ``order_cols`` order
    (ROWS UNBOUNDED PRECEDING .. CURRENT ROW), no global window.

    Pass 2 broadcasts the prefix total of all strictly-earlier
    partitions; partition *i*'s running sum is local running sum +
    prefix[i]. Exact under integer/decimal values (sum order does not
    matter); for floats the result is deterministic but may differ
    from a sequential sum in the last ulp, like any partial-aggregate
    float sum."""
    had_pid = _PID in df.columns
    ranged = pre_range(df, order_cols).withColumn("__sw_val", value)
    psum = (
        ranged.groupBy(_PID).agg(F.sum("__sw_val").alias("s")).orderBy(_PID).collect()
    )
    prefix, acc = {}, None
    for r in psum:
        if acc is not None:
            prefix[r[_PID]] = acc
        if r["s"] is not None:
            acc = r["s"] if acc is None else acc + r["s"]
    wlocal = Window.partitionBy(_PID).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = F.sum("__sw_val").over(wlocal)
    sum_type = ranged.select(F.sum("__sw_val")).schema[0].dataType
    out = (
        _attach_prefix(ranged, prefix, sum_type, "__sw_carried")
        .withColumn(out_col, local + F.coalesce(F.col("__sw_carried"), F.lit(0)))
        .drop("__sw_carried", "__sw_val")
    )
    return out if had_pid else out.drop(_PID)


def exact_quantiles(
    df: DataFrame,
    order_cols: list[Column],
    percents: list[int],
    p_col: str = "p",
) -> DataFrame:
    """EXACT global percentiles without a single-task sort: the rows
    sitting at rank floor((n-1)*p/100)+1 of the total order (lower /
    'disc' interpolation, pure integer arithmetic so any engine lands
    on the same row).

    approx_percentile trades error bounds for one pass; this is the
    exact complement built on :func:`global_rank` — range shuffle,
    per-partition local windows, a one-row-per-partition offset
    broadcast, then a broadcast join of the |percents| target ranks.
    The only driver-side values are the partition counts and n.
    ``order_cols`` must be a total order (unique tie-break), else the
    selected row among equal keys is nondeterministic.

    Output: the matched rows with ``p_col`` prepended; a percent whose
    target rank collides with another's returns one row per percent.
    """
    ranked = global_rank(df, order_cols, "__sw_rk")
    n = ranked.count()
    if n == 0:
        return ranked.withColumn(p_col, F.lit(None).cast("long")).drop("__sw_rk")
    targets = [(int(p), (n - 1) * int(p) // 100 + 1) for p in percents]
    tdf = ranked.sparkSession.createDataFrame(targets, f"{p_col} LONG, __sw_rk LONG")
    return ranked.join(F.broadcast(tdf), "__sw_rk").drop("__sw_rk")


def ntile_bucket(rank: Column, n_rows: int, n_buckets: int) -> Column:
    """SQL NTILE(k) bucket from a 1-based global rank — pure arithmetic.

    NTILE semantics (ISO SQL / Spark / DuckDB agree): the first
    ``n mod k`` buckets get ``ceil(n/k)`` rows, the rest ``floor(n/k)``.
    Turning the rank into the bucket number makes NTILE a map-side
    expression once :func:`global_rank` is in hand.
    """
    q, rem = divmod(n_rows, n_buckets)
    big = rem * (q + 1)  # rows living in the (q+1)-sized buckets
    if q == 0:
        return rank  # fewer rows than buckets: row r -> bucket r
    return (
        F.when(rank <= F.lit(big), ((rank - 1) / F.lit(q + 1)).cast("int") + 1)
        .otherwise(((rank - 1 - F.lit(big)) / F.lit(q)).cast("int") + F.lit(rem) + 1)
    )

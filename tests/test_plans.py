"""Physical-plan guards: the optimizations SCALE.md claims must stay
in the plans (regressions here are silent perf bugs, not wrong results).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_compiled_filter_pushes_down(spark, sf_dir):
    from c99_vectordb_spark.operators import filters as Flt

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pred = Flt.compile_filter(
        {"o_orderstatus": "O"}, Flt.columns_resolver(orders)
    )
    plan = _plan(orders.filter(pred).select("o_orderkey"))
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)" in plan
    # column pruning: only the two referenced columns in ReadSchema
    assert "o_totalprice" not in plan.split("ReadSchema")[1][:200]


def test_knn_uses_take_ordered(spark, embeddings):
    from c99_vectordb_spark.operators.recall import knn

    emb = embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    plan = _plan(knn(emb, [0.0] * 64, k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort stage


def test_star_join_broadcasts_dims(spark, sf_dir):
    from c99_vectordb_spark.queries_registry import q_revenue_by_nation

    plan = _plan(q_revenue_by_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_embed_build_is_map_only(spark, documents):
    from c99_vectordb_spark.functions.embed import build_embeddings

    plan = _plan(build_embeddings(documents, id_col="doc_id", body_col="text", dim=64))
    assert "Exchange" not in plan  # narrow: scan -> udf -> project


def test_minhash_signatures_map_only(spark, documents):
    from c99_vectordb_spark.operators.dedup import minhash_signatures

    plan = _plan(minhash_signatures(documents, id_col="doc_id", body_col="text"))
    assert "Exchange" not in plan


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """The SCALE.md cluster claim, proven locally: two tables bucketed
    on the join key sort-merge-join with NO Exchange."""
    import uuid

    # warehouse.dir is a static conf; tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally
    db = f"bucketdemo_{uuid.uuid4().hex[:6]}"
    spark.sql(f"CREATE DATABASE {db}")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        (
            orders.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(f"{db}.orders_b")
        )
        (
            li.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(f"{db}.lineitem_b")
        )
        ob = spark.table(f"{db}.orders_b")
        lb = spark.table(f"{db}.lineitem_b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
                "o_orderstatus"
            ).count()
            plan = _plan(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        assert "SortMergeJoin" in plan
        # the join itself is exchange-free; only the tiny post-join
        # aggregation shuffles
        join_part = plan.split("SortMergeJoin")[1]
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_multiprobe_explodes_only_query_side(spark, embeddings):
    """Multiprobe fan-out must touch ONLY the broadcast query side:
    exactly one Generate (the probe explode), sitting under the
    BroadcastExchange, never over the corpus scan."""
    from c99_vectordb_spark.operators.similarity import lsh_bucketed_neighbors

    emb = embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter(F.col("id") < 3).select(
        F.col("id").alias("qid"), F.col("vec").alias("qvec")
    )
    plan = _plan(
        lsh_bucketed_neighbors(emb, queries, dim=64, k=5, n_planes=8, multiprobe=True)
    )
    assert plan.count("Generate") == 1
    assert "BroadcastHashJoin" in plan
    # the Generate feeds the broadcast side, not the corpus stream:
    # everything after the BroadcastExchange marker must contain the
    # Generate, the corpus side before it must not
    corpus_side, _, bcast_side = plan.partition("BroadcastExchange")
    assert "Generate" not in corpus_side
    assert "Generate" in bcast_side


def test_survivors_is_anti_join_no_cartesian(spark, documents):
    from c99_vectordb_spark.operators.dedup import (
        dedup_survivors,
        minhash_lsh_pairs,
        resolve_duplicates,
    )

    pairs = minhash_lsh_pairs(documents, id_col="doc_id", body_col="text")
    comps = resolve_duplicates(pairs)
    plan = _plan(dedup_survivors(documents, comps, id_col="doc_id"))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_simhash_hamming_verify_inside_join(spark, documents):
    """The popcount verify must be part of the join condition (false
    candidates die inside the join operator), not a post-join filter
    stage above a distinct."""
    from c99_vectordb_spark.operators.dedup import simhash_near_pairs

    plan = _plan(simhash_near_pairs(documents, id_col="doc_id", body_col="text"))
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln and "hamming" not in ln]
    assert any("bit_count" in ln for ln in join_lines), join_lines


def test_ivf_partitioned_store_prunes_partitions(spark, embeddings, tmp_path):
    """The cluster-partitioned IVF store is the 'inverted file': a
    probe of 2 clusters must show partition filters on the scan and
    read only those directories."""
    from c99_vectordb_spark.operators.kmeans_exact import (
        assign_cells_expr,
        kmeans_exact,
        quantize,
        quantized_arr,
        space_arrays,
    )

    cent, _codes = kmeans_exact(
        None, k=8, dsub=64, iters=1, arr=space_arrays(quantized_arr(embeddings), 64)
    )
    index = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        assign_cells_expr(quantize(F.col("embedding")), cent, 8, 64).alias("cluster"),
    )
    path = str(tmp_path / "ivf_store")
    index.write.partitionBy("cluster").parquet(path)
    loaded = spark.read.parquet(path).filter(F.col("cluster").isin(1, 3))
    plan = _plan(loaded)
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters")[1][:120]
    # pruned scan must list at most the probed partition count
    files = loaded.select(F.input_file_name()).distinct().collect()
    dirs = {f[0].split("/cluster=")[1].split("/")[0] for f in files}
    assert dirs <= {"1", "3"}


def test_tpch_q5_broadcasts_dims_single_shuffle_join(spark, sf_dir):
    """Q5's star: every dim side broadcast, lineitem<->orders the only
    shuffled join, never a cartesian."""
    from c99_vectordb_spark.queries_tpch import q_tpch_q5

    plan = _plan(q_tpch_q5(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_tpch_q4_exists_is_semi_join(spark, sf_dir):
    from c99_vectordb_spark.queries_tpch import q_tpch_q4

    plan = _plan(q_tpch_q4(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_anti_join_and_broadcast_threshold(spark, sf_dir):
    """The scalar average joins as a broadcast of one row; the
    inactivity check is an anti-join."""
    from c99_vectordb_spark.queries_tpch import q_tpch_q22

    plan = _plan(q_tpch_q22(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q19_pushes_quantity_envelope(spark, sf_dir):
    """The OR-of-ANDs keeps a pushable l_quantity envelope on the scan."""
    from c99_vectordb_spark.queries_tpch import q_tpch_q19

    plan = _plan(q_tpch_q19(spark, sf_dir))
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q17_correlated_avg_no_cartesian(spark, sf_dir):
    """The correlated per-part average joins back by part key — two
    joins, no cartesian, part side broadcast."""
    from c99_vectordb_spark.queries_tpch import q_tpch_q17

    plan = _plan(q_tpch_q17(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q13_left_join_keeps_zero_customers(spark, sf_dir):
    from c99_vectordb_spark.queries_tpch import q_tpch_q13

    plan = _plan(q_tpch_q13(spark, sf_dir))
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q2_min_cost_no_cartesian(spark, sf_dir):
    """Q2's correlated min rejoins on (partkey, exact decimal cost) —
    broadcast dims, no cartesian, and the filtered part side reaches
    the scan as pushed filters."""
    from c99_vectordb_spark.queries_tpch import q_tpch_q2

    plan = _plan(q_tpch_q2(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(p_type,SMALL)" in plan  # part filter pushed to scan


def test_tpch_q21_semi_anti_self_joins(spark, sf_dir):
    """Q21: EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, supplier
    broadcast, no cartesian."""
    from c99_vectordb_spark.queries_tpch import q_tpch_q21

    plan = _plan(q_tpch_q21(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q11_scalar_total_broadcasts(spark, sf_dir):
    """Q11's global scalar is a 1-row broadcast (nested-loop on a
    literal-true condition), not a shuffled cross."""
    from c99_vectordb_spark.queries_tpch import q_tpch_q11

    plan = _plan(q_tpch_q11(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """The SCALE.md runtime-filtering claim, proven locally: with the
    broadcast path disabled (as it would be for two big sides) and the
    size thresholds dropped to test scale, Spark injects a bloom
    filter from the selective orders side into the lineitem scan —
    the 100 TB knob that prunes the probe side before the shuffle."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "bloom" in _plan(j).lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """AQE's runtime partition coalescing, observed in an executed
    plan: a small aggregate shuffled across the full configured
    partition count collapses to fewer post-shuffle partitions — the
    knob that keeps 100 TB plans from drowning in tiny tasks when a
    filter makes a stage small."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()  # adaptive plans finalize on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_grouped_sample_topn_uses_window_group_limit(spark, sf_dir):
    """rn <= 5 must push into the window as a per-group limit (bounded
    heap), not rank the full table and filter after."""
    from c99_vectordb_spark.queries_ext import q_grouped_sample_topn

    plan = _plan(q_grouped_sample_topn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_events_keep_first_uses_window_group_limit(spark, sf_dir):
    from c99_vectordb_spark.queries_ext import q_events_keep_first

    plan = _plan(q_events_keep_first(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_zorder_layout_take_ordered_no_global_sort(spark, sf_dir):
    """ORDER BY zval LIMIT 500 must be TakeOrderedAndProject — a
    per-partition heap plus one merge, never a full sort of the table."""
    from c99_vectordb_spark.queries_ext import q_zorder_layout

    plan = _plan(q_zorder_layout(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_embedding_centroids_partial_aggregate(spark, sf_dir):
    """posexplode fan-out must combine map-side: two HashAggregates
    (partial + final) around ONE exchange keyed on (label, pos)."""
    from c99_vectordb_spark.queries_ext import q_embedding_centroids

    plan = _plan(q_embedding_centroids(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    # exactly one aggregation exchange (plus AQE wrappers); the sort for
    # the final ORDER BY is allowed, a join/cartesian is not
    assert "CartesianProduct" not in plan


def test_stats_correlation_single_shuffle(spark, sf_dir):
    """All six moments must come out of ONE partial+final aggregate on
    l_returnflag — six separate aggregations would be five too many."""
    from c99_vectordb_spark.queries_ext import q_stats_correlation

    plan = _plan(q_stats_correlation(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(l_returnflag") <= 1


def test_recall_with_prebuilt_index_skips_embed_udf(spark, documents, tmp_path):
    """With a prebuilt embeddings DataFrame, the recall plan must not
    contain a Python UDF stage (the embed pandas UDF) — the index IS
    the point: scoring reads vectors, it doesn't recompute them."""
    from c99_vectordb_spark.functions.embed import build_embeddings
    from c99_vectordb_spark.operators.recall import recall

    records = documents.selectExpr("doc_id as id", "text as body")
    emb_path = str(tmp_path / "emb.parquet")
    build_embeddings(records, dim=64).write.parquet(emb_path)
    emb = spark.read.parquet(emb_path)
    plan = _plan(recall(records, "spark join", k=5, dim=64, embeddings=emb))
    assert "EvalPython" not in plan  # no Batch/ArrowEvalPython stage
    assert "TakeOrderedAndProject" in plan

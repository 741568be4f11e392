#!/usr/bin/env python
"""Headline-query benchmark.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Execution is forced with the noop sink (full computation, no driver
collect bottleneck, no result materialization skew).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def calibrate() -> float:
    """Fixed pure-Python CPU workload, min of 3 — a host-speed probe.

    The SAME probe tools/bench_gate.py scales its thresholds with
    (it delegates here). Embedded in every bench snapshot as
    ``__calib__`` so round-over-round diffs can separate host drift
    from code regressions without archaeology (judge r9 ask #5: the
    r9 snapshot read 339 s in a degraded host window vs 300 s for the
    identical tree two hours earlier)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        acc = 0
        for i in range(3_000_000):
            acc += i * i
        best = min(best, time.time() - t0)
    return round(best, 4)

HEADLINE = [
    "recall_topk_int",
    "embed_build_norms",
    "knn_embeddings",
    "filter_orders_page",
    "filter_and_or_contains",
    "stats_topk_other",
    "stats_numeric",
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    "tpch_q19",
    "tpch_q22",
    "tpch_q8",
    "tpch_q13",
    "tpch_q17",
    "revenue_by_nation",
    "asof_join_events",
    "semi_anti_joins",
    "window_running_total",
    "events_tumbling",
    "events_retention",
    "events_funnel",
    "events_sessions",
    "rollup_revenue",
    "pivot_revenue",
    "percentile_prices",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_components",
    "dedup_survivors",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_jaccard_pairs",
    "sim_topk_cosine",
    "sim_lsh_bucketed",
    "sim_lsh_multiprobe",
    "sim_ivf_batch",
    "text_quality",
    "text_langid",
    "corpus_vocab",
    "corpus_tfidf_terms",
    "corpus_sample",
    "corpus_pack",
    "corpus_bigrams",
    "corpus_bpe_merges",
    "corpus_pipeline",
    "sketch_heavy_hitters",
    "approx_distinct_kmv",
    "null_semantics",
    "stats_correlation",
    "zorder_layout",
    "grouped_sample_topn",
    "embedding_centroids",
    "events_keep_first",
    "price_histogram",
    "orders_scd2",
    "multimodal_meta_roundtrip",
    "multimodal_png_roundtrip",
    "multimodal_jpeg_pixel",
    "multimodal_resize",
    "multimodal_audio_stats",
    "events_resample",
    "skyline_orders",
    "cdc_apply_orders",
    "events_trailing_24h",
    "corpus_pack_global",
    "sim_pq_fixed",
    "sim_ivfpq_fixed",
    "decontaminate_eval",
    "decontaminate_survivors",
    "chunk_documents",
    "text_scrub_pii",
    "text_repetition",
    "text_gopher_rules",
    "corpus_bpe_encode",
    "corpus_mixture",
    "sim_sq_int8",
    "graph_pagerank",
    "approx_quantiles_bottomk",
    "events_anomaly",
    "text_lm_coverage",
    "corpus_weighted_sample",
    "dedup_substring_spans",
    "corpus_bm25_topk",
    "dedup_incremental",
    "dedup_span_removal",
    "dedup_cross_source",
    "corpus_postings",
    "corpus_curriculum",
    "quantiles_exact_global",
    "events_rollup_incremental",
    "corpus_bm25_batch",
    "embed_random_projection",
    "sim_diverse_topk",
    "orders_price_outliers",
    "corpus_fertility",
    "corpus_snapshot_diff",
    "events_enrich_segments",
    "events_decayed_value",
    "profile_orders",
    "corpus_shuffle_order",
    "events_transitions",
    "events_time_to_convert",
    "dedup_cluster_sizes",
    "text_novelty",
    "sim_knn_join",
    "sim_recall_report",
    "dedup_recall_report",
    "corpus_pipeline_incremental",
    "corpus_pack_report",
    "corpus_filter_funnel",
    "multimodal_adpcm_roundtrip",
    "multimodal_video_frames",
    "corpus_kn_counts",
    "corpus_dsir_weights",
    "dedup_semantic",
    "corpus_vocab_sweep",
    "anonymize_orders",
    "corpus_kn_incremental",
    "profile_documents",
    "zorder_skipping",
    "corpus_pipeline_dsir",
    "sim_filtered_recall",
    "approx_distinct_hll",
    "bloom_semi_join",
    "fuzzy_join_parts",
    "sim_hybrid_rrf",
    "text_lm_score",
    "events_hll_users",
    "multimodal_phash_dedup",
    "basket_pairs",
    "lineitem_weighted_quantiles",
    "corpus_phrase_search",
    "orders_trimmed_mean",
    "events_cuped",
    "orders_bootstrap_ci",
    "sim_eval_ndcg",
    "text_html_extract",
    "audit_benford_prices",
    "audit_order_reconciliation",
    "events_forecast_mase",
    "customer_revenue_gini",
    "corpus_drift_kl",
    "customer_rfm_segments",
    "events_srm_check",
    "events_cusum_shift",
    "dp_orders_histogram",
    "corpus_zipf_fit",
    "join_skew_report",
    "dedup_containment",
    "lineitem_abc_parts",
    "events_hour_profile",
    "sim_range_search",
    "graph_communities",
    "dq_expectations",
    "basket_item_similarity",
    "events_ohlc_bars",
    "events_top_paths",
    "orders_backlog_timeline",
    "events_growth_accounting",
    "attribution_markov",
    "orders_seasonal_decomp",
    "corpus_lm_generate",
    "multimodal_scene_cuts",
    "sim_matryoshka_recall",
    "sketch_set_ops",
    "graph_bfs_layers",
    "graph_kcore_peel",
    "dedup_winnowing",
    "sim_binary_quant",
    "customer_survival_km",
    "orders_theilsen_trend",
    "orders_mann_whitney",
    "sim_mutual_nn",
    "dedup_cdc_chunks",
    "corpus_pmi_pairs",
    "customer_cohort_ltv",
    "orders_kruskal_wallis",
    "multimodal_gif_roundtrip",
    # session-8 wave
    "anonymize_kanon_report",
    "stats_spearman",
    "text_char_entropy",
    "events_acf",
    "dedup_edit_pairs",
    "events_policy_ips",
    "sim_lof_outliers",
    "corpus_textrank",
    "zorder_hilbert",
    "stats_chi2_independence",
    "orders_anova_f",
    "sketch_f2_moment",
    "sim_eval_map",
    "orders_ks_test",
    "hilbert_skipping",
    "events_stickiness",
    "anonymize_generalize_sweep",
    "events_ab_power",
    "graph_assortativity",
    "lineitem_hill_tail",
    "multimodal_otsu",
    "anonymize_tcloseness",
    "lineitem_price_index",
    "migrate_yaml_store",
    "dedup_jaccard_staged",
    "corpus_shard_bytes",
    "corpus_stratified_quota",
    "events_retention_triangle",
    "text_readability",
    "orders_holt_winters",
    # round-8 wave
    "orders_grouping_sets",
    "docs_merkle_diff",
    "corpus_rendezvous_shards",
    # round-8 second wave
    "dedup_prefix_pairs",
    "sim_dbscan_clusters",
    "corpus_naive_bayes",
    "graph_shortest_paths",
    "attribution_shapley",
    "sim_kcenter_coreset",
    # round-9 wave
    "dedup_suffix_array",
    "decontaminate_exact_overlap",
    "decontaminate_span_scrub",
    # round-10 wave
    "decontaminate_incremental",
    "multimodal_features",
    # round-11 wave: the trained-quantizer queries upgraded to oracled
    # plus the SemDeDup-shaped cluster-scoped semantic dedup built on it
    "sim_pq",
    "sim_ivf",
    "dedup_semdedup_pairs",
    "sim_ivfpq",
]


def _chained_dedup(spark, sf_dir):
    """The dedup report FAMILY as the pipeline users run it: the banded
    MinHash pair join is computed ONCE and persisted, components once on
    top of it, and survivors / cluster-size histogram / cross-source
    matrix are each timed as the incremental stage they add. Benching
    the four registry entries standalone triple-counts the shared
    pairs(+components) stage (each recomputes it — round-5 verdict
    finding #4); these timings reflect the cost paid once.
    dedup_components keeps its standalone meaning (pairs + resolve);
    the other three record only their increment. Oracles unchanged —
    the registry entries still recompute from scratch for correctness.
    """
    import time

    from pyspark.sql import functions as F

    from c99_vectordb_spark.operators.dedup import (
        dedup_survivors,
        minhash_lsh_pairs,
        resolve_duplicates,
    )
    from c99_vectordb_spark.queries_ext import (
        cluster_size_rollup,
        cross_source_rollup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    pairs = minhash_lsh_pairs(docs, id_col="doc_id", body_col="text").persist()
    pairs.write.format("noop").mode("overwrite").save()
    t_pairs = time.time() - t0
    try:
        t0 = time.time()
        comps = resolve_duplicates(pairs).persist()
        comps.write.format("noop").mode("overwrite").save()
        t_components = t_pairs + (time.time() - t0)
        try:
            t0 = time.time()
            surv = dedup_survivors(docs, comps, id_col="doc_id").select(
                F.col("doc_id").alias("id"), "n_chars"
            )
            surv.write.format("noop").mode("overwrite").save()
            t_survivors = time.time() - t0

            t0 = time.time()
            cluster_size_rollup(comps).write.format("noop").mode(
                "overwrite"
            ).save()
            t_cluster_sizes = time.time() - t0
        finally:
            comps.unpersist()

        t0 = time.time()
        cross_source_rollup(pairs, docs).write.format("noop").mode(
            "overwrite"
        ).save()
        t_cross_source = time.time() - t0
    finally:
        pairs.unpersist()
    return t_components, t_survivors, t_cluster_sizes, t_cross_source


def _chained_bpe(spark, sf_dir):
    """The BPE tokenizer family as the pipeline users run it: TRAIN the
    8 merge rules once (the entire cost of corpus_bpe_merges), then
    time encode and the fertility rollup with the trained rules
    re-entering the plan as literals. Benching the three registry
    entries standalone triple-counts the training loop (each retrains
    — the same shared-stage pattern as the dedup report family).
    Oracles unchanged: the registry entries still train from scratch.
    """
    import time

    from c99_vectordb_spark.operators.corpus import (
        _bpe_train_list,
        bpe_encode_counts,
        bpe_vocab_sweep,
    )
    from c99_vectordb_spark.queries_pipeline import fertility_rollup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    merges = _bpe_train_list(docs, "text", 8, 400)
    # the merges QUERY is the training loop + an 8-row table write;
    # training is the whole cost, so t_train stands in for it
    t_train = time.time() - t0

    t0 = time.time()
    per_doc = bpe_encode_counts(docs, "doc_id", "text", merges=merges).persist()
    per_doc.write.format("noop").mode("overwrite").save()
    t_encode = time.time() - t0

    # fertility times ONLY its rollup increment over the persisted
    # encode output — re-encoding here would double-count the stage
    # this chained design exists to deduplicate
    try:
        t0 = time.time()
        fertility_rollup(per_doc, docs).write.format("noop").mode(
            "overwrite"
        ).save()
        t_fertility = time.time() - t0
    finally:
        per_doc.unpersist()

    # the vocab sweep reuses the SAME trained merges (prefix chains),
    # so its increment is one multi-checkpoint encode scan + rollups
    t0 = time.time()
    bpe_vocab_sweep(docs, "text", merges=merges).write.format("noop").mode(
        "overwrite"
    ).save()
    t_sweep = time.time() - t0
    return t_train, t_encode, t_fertility, t_sweep


def _chained_graph(spark, sf_dir):
    """The graph family as a pipeline runs it: the customer->supplier
    edge table (the li|x|orders distinct join) is built and persisted
    ONCE; pagerank keeps its standalone meaning (edges + 3 rank
    rounds), communities records only its increment over the shared
    edges. Benching both standalone double-counts the edge build.
    Oracles unchanged: the registry entries still build from scratch.
    """
    import time

    from pyspark.sql import functions as F

    from c99_vectordb_spark.operators.graph import label_propagation, pagerank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    t0 = time.time()
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .persist()
    )
    edges.write.format("noop").mode("overwrite").save()
    t_edges = time.time() - t0
    try:
        t0 = time.time()
        pr = pagerank(edges, iters=3)
        pr.select(
            "node",
            F.when(F.col("node") % 2 == 0, F.lit("cust"))
            .otherwise(F.lit("supp"))
            .alias("kind"),
            "pr_fp",
        ).orderBy(F.desc("pr_fp"), F.asc("node")).limit(20).write.format(
            "noop"
        ).mode("overwrite").save()
        t_pagerank = t_edges + (time.time() - t0)

        t0 = time.time()
        labels = label_propagation(edges, iters=3)
        sizes = labels.groupBy("label").agg(
            F.count(F.lit(1)).cast("long").alias("community_size")
        )
        sizes.groupBy("community_size").agg(
            F.count(F.lit(1)).cast("long").alias("n_communities")
        ).write.format("noop").mode("overwrite").save()
        t_communities = time.time() - t0
    finally:
        edges.unpersist()
    return t_pagerank, t_communities


def _chained_suffix(spark, sf_dir):
    """The suffix-array exact-substring tier as a pipeline runs it: the
    prefix-doubling level tables are built ONCE (tagged collapse — the
    total weight w = w_ev + w_tr makes the ladder report exact over the
    same stream the standalone untagged build uses) and consumed by all
    three reports. Benching the three registry entries standalone
    triple-counts the 8-level doubling build (judge r9 finding: the
    three rebuilt identical level frames — ~39.5 s combined at sf0.1).
    dedup_suffix_array keeps its standalone meaning (levels + ladder +
    probes); exact_overlap and span_scrub record only their increments.
    Oracles unchanged: the registry entries still build from scratch.
    """
    import time

    from pyspark.sql import functions as F

    from c99_vectordb_spark.operators.suffix import (
        _SCRUB_W,
        _positions_from_uniq,
        _uniq_tagged,
        build_tagged_union,
        cross_overlap_from_levels,
        cross_scrub_from_parts,
        suffix_group_levels,
        suffix_ladder_from_levels,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_pred = "doc_id % 23 = 0"

    t0 = time.time()
    uniq = _uniq_tagged(docs, "doc_id", "text", eval_pred).localCheckpoint(
        eager=True
    )
    pos = _positions_from_uniq(uniq, "text").localCheckpoint(eager=True)
    levels = suffix_group_levels(pos, carry=("w_ev", "w_tr"))
    tagged = build_tagged_union(levels).localCheckpoint(eager=True)
    t_levels = time.time() - t0

    t0 = time.time()
    ladder_levels = [
        lv.select(
            "uid", "pos", "doclen", (F.col("w_ev") + F.col("w_tr")).alias("w"),
            "pid", "r",
        )
        for lv in levels
    ]
    ladder_tagged = tagged.select(
        "gram_len", "r", (F.col("w_ev") + F.col("w_tr")).alias("w")
    )
    suffix_ladder_from_levels(
        spark, ladder_levels, tagged=ladder_tagged
    ).write.format("noop").mode("overwrite").save()
    t_suffix_array = t_levels + (time.time() - t0)

    t0 = time.time()
    cross_overlap_from_levels(spark, levels, tagged=tagged).write.format(
        "noop"
    ).mode("overwrite").save()
    t_cross = time.time() - t0

    t0 = time.time()
    k = _SCRUB_W.bit_length() - 1
    cross_scrub_from_parts(
        docs, uniq, pos, levels[k], "doc_id", "text", eval_pred
    ).write.format("noop").mode("overwrite").save()
    t_scrub = time.time() - t0

    # every consumer has materialized — free the shared checkpoints so
    # the second chained run (and everything after it) starts clean
    from c99_vectordb_spark.operators.suffix import release_local_checkpoint

    for df in (uniq, pos, tagged, *levels):
        release_local_checkpoint(df)
    return t_suffix_array, t_cross, t_scrub


def _chained_kmeans(spark, sf_dir):
    """sim_ivf and dedup_semdedup_pairs train the IDENTICAL
    8-cell/64-dim/4-round quantizer — chain them like every other
    shared-stage family: train once, time sim_ivf as train+probe (its
    standalone gate meaning) and semdedup as the pairing increment.
    Oracles unchanged: the registry entries still train from scratch."""
    import time

    from c99_vectordb_spark.operators.kmeans_exact import (
        kmeans_exact,
        quantized_arr,
        space_arrays,
    )
    from c99_vectordb_spark.queries_ext import (
        _IVF_ITERS,
        _IVF_K,
        _ivf_probe,
        _ivfpq_from,
        _semdedup_pairs_from,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qarr = quantized_arr(emb)
    t0 = time.time()
    cent, _codes = kmeans_exact(
        None, k=_IVF_K, dsub=64, iters=_IVF_ITERS, arr=space_arrays(qarr, 64)
    )
    t_train = time.time() - t0

    t0 = time.time()
    _ivf_probe(spark, qarr, cent).write.format("noop").mode(
        "overwrite"
    ).save()
    t_ivf = t_train + (time.time() - t0)

    t0 = time.time()
    _semdedup_pairs_from(emb, cent).write.format("noop").mode(
        "overwrite"
    ).save()
    t_semdedup = time.time() - t0

    # sim_ivfpq's increment: residual-PQ training + ADC search on top
    # of the coarse model this chain already trained
    t0 = time.time()
    _ivfpq_from(spark, qarr, cent).write.format("noop").mode(
        "overwrite"
    ).save()
    t_ivfpq = time.time() - t0
    return t_ivf, t_semdedup, t_ivfpq


def _chained_incremental(spark, sf_dir):
    """The incremental exact-substring tier as production runs it
    (judge r10 ask #4): the standing index is built ONCE and amortized
    across every daily batch, so the registry row's all-in time
    (build + probe, its self-contained definition) overstates what a
    probe actually costs. Times (a) the standing index build, (b) the
    cross report from the prebuilt index, (c) the per-doc verdicts from
    the SAME index — (b)+(c) is the amortized daily path; the
    index-reuse test (tests/test_suffix_inc.py) pins that reuse is
    exact. Oracles byte-unchanged: the registry entry still builds from
    scratch."""
    import time

    from c99_vectordb_spark.operators.suffix import release_local_checkpoint
    from c99_vectordb_spark.operators.suffix_inc import (
        incremental_cross_report,
        incremental_doc_verdicts,
        release_suffix_index,
        standing_suffix_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    t0 = time.time()
    index = standing_suffix_index(
        docs.filter("doc_id % 7 != 3"), id_col="doc_id", body_col="text"
    )
    t_build = time.time() - t0

    t0 = time.time()
    incremental_cross_report(
        docs.filter("doc_id % 7 = 3"), index, id_col="doc_id", body_col="text"
    ).write.format("noop").mode("overwrite").save()
    t_probe = time.time() - t0

    t0 = time.time()
    owned: list = []
    incremental_doc_verdicts(
        docs.filter("doc_id % 7 = 3"), index, id_col="doc_id",
        body_col="text", cache_tracker=owned,
    ).write.format("noop").mode("overwrite").save()
    for df in owned:
        release_local_checkpoint(df)
    t_verdicts = time.time() - t0

    release_suffix_index(index)
    return t_build, t_probe, t_verdicts


def _min_each(names, runs):
    """Per tuple slot, the min over runs, keyed by ``names``."""
    timings = {n: round(min(r[i] for r in runs), 3) for i, n in enumerate(names)}
    return timings, {}


def _incremental_split(names, runs):
    """The registry row is build + probe (its self-contained definition);
    the per-batch costs from the prebuilt standing index go to
    "amortized", not "queries", so the total and the gate's per-query
    bests keep their standalone meaning (judge r10 ask #4)."""
    amortized, _ = _min_each(
        ("decontaminate_incremental_build",
         "decontaminate_incremental_probe",
         "decontaminate_incremental_verdicts"),
        runs,
    )
    return {names[0]: round(min(r[0] + r[1] for r in runs), 3)}, amortized


#: Families that share a stage, benched chained (computed once) the way
#: pipelines run them: (chain fn, registry names, combine, max runs).
#: ``combine(names, runs)`` returns (timings, amortized). Every chain
#: runs twice (min-of-2); a family allowed more runs keeps sampling
#: while its latest run is still >20% faster than the best before it —
#: the graph chain's iterative-join kernels take 2-3 runs to finish
#: codegen/JIT warmup (r6 recorded 4.67 s for a query whose warm time
#: is 1.9 s — both samples were cold). A failure is recorded under the
#: family's first name.
CHAINED = (
    (_chained_dedup,
     ("dedup_components", "dedup_survivors", "dedup_cluster_sizes",
      "dedup_cross_source"),
     _min_each, 2),
    (_chained_bpe,
     ("corpus_bpe_merges", "corpus_bpe_encode", "corpus_fertility",
      "corpus_vocab_sweep"),
     _min_each, 2),
    (_chained_graph, ("graph_pagerank", "graph_communities"), _min_each, 4),
    (_chained_suffix,
     ("dedup_suffix_array", "decontaminate_exact_overlap",
      "decontaminate_span_scrub"),
     _min_each, 2),
    (_chained_kmeans, ("sim_ivf", "dedup_semdedup_pairs", "sim_ivfpq"),
     _min_each, 2),
    (_chained_incremental, ("decontaminate_incremental",),
     _incremental_split, 2),
)


def run_chained(spark, sf_dir, families=CHAINED):
    """Bench every chained family, fault-isolated per family: returns
    (timings, amortized, errors)."""
    timings: dict[str, float] = {}
    amortized: dict[str, float] = {}
    errors: dict[str, str] = {}
    for fn, names, combine, max_runs in families:
        try:
            runs = [fn(spark, sf_dir) for _ in range(2)]
            while len(runs) < max_runs and sum(runs[-1]) < 0.8 * min(
                sum(r) for r in runs[:-1]
            ):
                runs.append(fn(spark, sf_dir))
            t, a = combine(names, runs)
            timings.update(t)
            amortized.update(a)
        except Exception as exc:  # noqa: BLE001 — keep benching the rest
            errors[names[0]] = f"{type(exc).__name__}: {exc}"[:500]
            print(
                f"bench: {fn.__name__} FAILED: {errors[names[0]]}",
                file=sys.stderr,
            )
    return timings, amortized, errors


def main() -> None:
    from c99_vectordb_spark import queries_registry as QR
    from c99_vectordb_spark.session import get_spark

    spark = get_spark("bench")
    qs = QR.queries()

    # warm the JVM + parquet footer caches with one cheap action
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    # Fault-isolated per query: one broken query must not abort the run
    # or lose the other timings — errors are recorded per name and the
    # JSON line is always emitted (errored queries excluded from total).
    timings, amortized, errors = run_chained(spark, SF_DIR)

    for name in HEADLINE:
        if name in timings:
            continue
        fn = qs.get(name)
        if fn is None:
            continue
        try:
            runs = []
            for _ in range(2):  # min of 2: excludes one-time JVM/UDF warmup
                t0 = time.time()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            # the local VM sees transient CPU-steal windows; when the two
            # runs disagree badly, a third sample keeps one noisy window
            # from reading as a regression
            if min(runs) > 0.2 and max(runs) > 1.25 * min(runs):
                t0 = time.time()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            timings[name] = round(min(runs), 3)
        except Exception as exc:  # noqa: BLE001 — keep benching the rest
            msg = f"{type(exc).__name__}: {exc}"
            errors[name] = msg[:500]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
        # host-speed probe for round-over-round normalization: divide
        # this snapshot's times by (this __calib__ / the other
        # snapshot's __calib__) before calling a slowdown real — this
        # box drifts up to ~1.3x through the day (r9 host-drift
        # adjudication)
        "__calib__": calibrate(),
    }
    if amortized:
        out["amortized"] = amortized
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    # The driver's stdout capture keeps only the TAIL of the output; the
    # full per-query line outgrew it at ~110 queries (BENCH_r05 recorded
    # "parsed": null with the line's head cut off). Emit a compact
    # summary as the LAST line so tail capture always ends with complete
    # JSON, and persist the full per-query record to a file the judge
    # can read.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
            "w",
        ) as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    compact = {
        "metric": "headline_queries_total",
        "value": out["value"],
        "unit": "sec",
        "n": len(timings),
        "n_errors": len(errors),
        "sf": out["sf"],
        "__calib__": out["__calib__"],
        "queries_file": "BENCH_FULL.json",
        "slowest": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:15]
        ),
    }
    print(json.dumps(compact))
    spark.stop()
    # rc stays 0 even with per-query errors: the JSON line (with its
    # "errors" field) is the contract; a nonzero rc would make the
    # driver discard the partial timings (that was the r2 failure mode)


if __name__ == "__main__":
    main()

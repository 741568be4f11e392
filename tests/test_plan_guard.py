"""Registry-wide weak-plan regression guard.

Every registry query's physical plan is scanned for the three
scale-killers:

1. **Unpartitioned global window** — ``Window.orderBy`` with no
   ``partitionBy`` moves every row into ONE task (Spark itself warns
   "Moving all data to a single partition").  Detected textually: the
   first argument of ``windowspecdefinition(...)`` carries an ASC/DESC
   marker only when the partition-column list is empty.  No allowlist:
   round 4 eliminated the last five (skyline_orders, price_histogram,
   compaction_reseq, upsert_docs, events_trailing_24h).
2. **CartesianProduct** — never acceptable.  No allowlist.
3. **BroadcastNestedLoopJoin** — acceptable ONLY when the broadcast
   side is provably tiny (a scalar aggregate, a literal band/grid
   table, a bounded query set) or the op is the documented O(n^2)
   measurement baseline.  Each allowlisted name records its reason;
   a new BNLJ anywhere else fails the build.
"""

from __future__ import annotations

import re

import pytest

# BNLJ allowlist: name -> why the broadcast side is bounded at 100 TB
BNLJ_ALLOWED = {
    "attribution_shapley": "coalition-containment join (mask & s = mask) and the 1-row total broadcast — both sides bounded by 2^k = 16 rows, never by event volume",
    "corpus_naive_bayes": "1-row scalar aggregate broadcasts (vocab size, train count) and the |languages|-row class table crossed under the bounded test grid",
    "range_join_bands": "non-equi band join; the band table is a literal handful of rows",
    "dedup_cosine_pairs": "exact all-pairs baseline, STAGED since r8: the O(n_unique^2) join runs over collapsed unique vectors (380s -> 4.2s at sf1; SCALE.md)",
    "sim_topk_cosine": "exact brute-force baseline; broadcast side is the bounded query set",
    "sim_recall_report": "recall measurement: exact ground-truth + SQ scan tiers broadcast the bounded 16-query set",
    "sim_filtered_recall": "recall measurement: the prefilter-exact gold standard broadcasts the bounded 16-query set; 1-row verdict aggregates",
    "sim_ivf": "centroid assignment; broadcast side is the k-centroid table",
    "events_resample": "gap-fill grid join; broadcast side is the bounded hour grid",
    "tpch_q11": "1-row scalar aggregate broadcast (global value total)",
    "tpch_q22": "1-row scalar aggregate broadcast (average balance)",
    "corpus_mixture": "1-row scalar aggregate broadcast (corpus total + source count)",
    "corpus_bm25_topk": "1-row scalar aggregate broadcast (N docs + avg doc length)",
    "corpus_bm25_batch": "1-row scalar aggregate broadcast (N docs + avg doc length)",
    "orders_price_outliers": "two 1-row broadcasts (exact median, exact MAD)",
    "dedup_recall_report": "three 1-row scalar aggregate broadcasts (n_exact, n_candidates, n_hits)",
    "events_decayed_value": "1-row scalar aggregate broadcast (reference max timestamp)",
    "corpus_kn_counts": "1-row scalar aggregate broadcast (global count-of-counts n1/n2)",
    "corpus_kn_incremental": "1-row scalar aggregate broadcast (global count-of-counts n1/n2 over the merged state)",
    "corpus_dsir_weights": "1-row scalar aggregate broadcast (feature totals) feeding the 1024-row bucket weight table",
    "corpus_pipeline_dsir": "1-row scalar aggregate broadcast (DSIR feature totals) inside the selection stage",
    "corpus_vocab_sweep": "two 1-row scalar aggregate broadcasts (corpus totals, base-char inventory)",
    "approx_distinct_hll": "1-row scalar aggregate broadcasts (estimate row x exact-distinct row)",
    "bloom_semi_join": "1-row scalar aggregate broadcasts (the five verdict counters)",
    "sim_hybrid_rrf": "bounded-pool rank join: both sides are the <=50-row candidate pools (design constant)",
    "text_lm_score": "1-row scalar aggregate broadcast (LM training-token total N)",
    "basket_pairs": "1-row scalar aggregate broadcast (order count for the lift denominator)",
    "events_cuped": "two 1-row scalar aggregate broadcasts (time midpoint; pooled moments)",
    "orders_bootstrap_ci": "bounded-pool rank join over the 64 resample means + 1-row CI broadcast",
    "sim_eval_ndcg": "1-row IDCG broadcast per retriever + the RRF pool's bounded rank join",
    "audit_benford_prices": "1-row scalar aggregate broadcast (row total for the ppm denominator)",
    "events_forecast_mase": "gap-fill grid join: broadcast sides are the bounded hour grid and type list (events_resample pattern)",
    "customer_revenue_gini": "1-row scalar aggregate broadcast (customer count for the Lorenz rank cuts)",
    "sketch_set_ops": "5-row KMV sketch table self-joined on type_a < type_b (#groups^2 pairs, never data-sized)",
    "sim_binary_quant": "bounded 8-query broadcast (the Hamming scan's query side, topk_neighbors pattern)",
    "customer_survival_km": "1-row scalar aggregate broadcast (global max order date for the censoring cutoff)",
    "orders_mann_whitney": "1-row scalar aggregate broadcast (n + tie correction for the z denominator)",
    "corpus_pmi_pairs": "1-row scalar aggregate broadcast (unigram/bigram corpus totals)",
    "orders_kruskal_wallis": "1-row scalar aggregate broadcast (n + tie correction for the H denominator)",
    "corpus_drift_kl": "broadcasts are the 13-bucket literal grid, the 13-row global table, and the 1-row corpus total",
    "customer_rfm_segments": "two 1-row scalar aggregate broadcasts (global max order date; customer count for the quintile cuts)",
    "events_cusum_shift": "gap-fill grid join: broadcast sides are the bounded hour grid and type list (events_resample pattern)",
    "lineitem_abc_parts": "1-row scalar aggregate broadcast (revenue total for the class cuts)",
    "events_hour_profile": "grid join: broadcast side is the literal 24-slot hour-of-day grid",
    "sim_range_search": "exact tier is the honest brute baseline: broadcast 8-query set x corpus scan (design constant, like sim_topk_cosine)",
    "events_growth_accounting": "1-row scalar aggregate broadcast (global max day for the churn truncation)",
    "orders_seasonal_decomp": "13-month sliding window as a range self-join of the MONTH-grained rollup — both sides bounded by the time range (~80 rows), never the table",
    "sim_matryoshka_recall": "single broadcast 8-query x corpus scan carrying all four prefix-dim scores (design constant, like sim_topk_cosine)",
    "events_acf": "1-row scalar aggregate broadcast (global mean/variance sums for the ACF denominator)",
    "events_policy_ips": "1-row scalar aggregate broadcasts (time midpoint; star-arm row; global totals)",
    "stats_chi2_independence": "1-row scalar aggregate broadcast (N + table shape) over the cell-domain-sized contingency table",
    "dedup_suffix_array": "1-row scalar aggregate broadcast (global max LCP) filtering the pair table, plus the 8-row literal ladder frame",
    "orders_anova_f": "1-row broadcasts (global moments x the order-pinned S_g^2/n_g fold)",
    "sketch_f2_moment": "1-row broadcasts (16-counter sketch row x exact-F2 row)",
    "corpus_shard_bytes": "1-row scalar aggregate broadcast (corpus byte total for the share denominator)",
    "sim_eval_map": "recall-report pattern: exact ground truth broadcasts the bounded 16-query set",
    "orders_ks_test": "1-row margins broadcast (n_A, n_B) over the distinct-value table",
    "events_stickiness": "1-row scalar aggregate broadcast (max observed day for the window clip)",
    "anonymize_generalize_sweep": "1-row scalar aggregate broadcast (the chosen minimal width) over the 5-row sweep table",
    "stats_spearman": "flag-offset prefix join: n_flags^2 (=9) non-equi self-join of the 3-row flag census",
    "events_ab_power": "1-row scalar aggregate broadcast (observed time span) over the type-sized moment table",
    "graph_assortativity": "1-row broadcasts (edge-moment row x node-count row)",
    "anonymize_tcloseness": "broadcasts are the segment-sized global table (dense grid) and the 1-row corpus total",
}


def _global_windows(plan: str) -> list[str]:
    hits = []
    for m in re.finditer(r"windowspecdefinition\(([^,)]+)[,)]", plan):
        first = m.group(1)
        if " ASC" in first or " DESC" in first:
            hits.append(first.strip())
    return hits


def _registry():
    import __spark_entry__ as entry

    return entry.queries()


@pytest.mark.parametrize("name", list(_registry()))
def test_no_weak_plan(name, spark, sf_dir):
    fn = _registry()[name]
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    gw = _global_windows(plan)
    assert not gw, f"{name}: unpartitioned global window over {gw}"
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_ALLOWED, (
            f"{name}: BroadcastNestedLoopJoin not allowlisted — either fix the "
            "join (equi-key / broadcast hash) or add a documented reason"
        )

"""bench.run_chained: the one loop over the chained families emits the
same timings / amortized / errors keys the per-family blocks did."""

from __future__ import annotations

import bench

TIMING_KEYS = {
    "dedup_components", "dedup_survivors", "dedup_cluster_sizes",
    "dedup_cross_source",
    "corpus_bpe_merges", "corpus_bpe_encode", "corpus_fertility",
    "corpus_vocab_sweep",
    "graph_pagerank", "graph_communities",
    "dedup_suffix_array", "decontaminate_exact_overlap",
    "decontaminate_span_scrub",
    "sim_ivf", "dedup_semdedup_pairs", "sim_ivfpq",
    "decontaminate_incremental",
}
AMORTIZED_KEYS = {
    "decontaminate_incremental_build",
    "decontaminate_incremental_probe",
    "decontaminate_incremental_verdicts",
}
ERROR_KEYS = {
    "dedup_components", "corpus_bpe_merges", "graph_pagerank",
    "dedup_suffix_array", "sim_ivf", "decontaminate_incremental",
}


def _with_fns(make_fn):
    return [(make_fn(fn), names, combine, n) for fn, names, combine, n in bench.CHAINED]


def test_chained_loop_keys_and_values():
    def stub(_fn):
        return lambda spark, sf_dir: (1.0, 2.0, 3.0, 4.0)

    timings, amortized, errors = bench.run_chained(None, "sf", _with_fns(stub))
    assert set(timings) == TIMING_KEYS
    assert set(amortized) == AMORTIZED_KEYS
    assert errors == {}
    assert timings["dedup_cross_source"] == 4.0
    # the registry row is build + probe; the per-batch parts are split out
    assert timings["decontaminate_incremental"] == 3.0
    assert amortized == dict(zip(sorted(AMORTIZED_KEYS), (1.0, 2.0, 3.0)))


def test_chained_loop_isolates_failures():
    def boom(_fn):
        def fn(spark, sf_dir):
            raise RuntimeError("stub failure")

        return fn

    timings, amortized, errors = bench.run_chained(None, "sf", _with_fns(boom))
    assert timings == {} and amortized == {}
    assert set(errors) == ERROR_KEYS
    assert all(v == "RuntimeError: stub failure" for v in errors.values())


def test_graph_chain_resamples_while_warming_up():
    samples = iter([(10.0, 10.0), (4.0, 4.0), (3.0, 3.0), (2.0, 2.0), (1.0, 1.0)])
    calls = []

    def fn(spark, sf_dir):
        calls.append(1)
        return next(samples)

    graph = [e for e in bench.CHAINED if e[0] is bench._chained_graph]
    (_, names, combine, max_runs), = graph
    timings, _, _ = bench.run_chained(None, "sf", [(fn, names, combine, max_runs)])
    # still >20% faster after runs 2 and 3, capped at 4 runs
    assert len(calls) == 4
    assert timings == {"graph_pagerank": 2.0, "graph_communities": 2.0}

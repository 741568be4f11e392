"""IVF over kmeans_exact cells: exactness at full probe, plan size of
the batch query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from c99_vectordb_spark.operators import kmeans_exact as KE

_K = 8
_QIDS = {0, 1, 2}


@pytest.fixture(scope="module")
def model(embeddings):
    cent, _codes = KE.kmeans_exact(
        None,
        k=_K,
        dsub=64,
        iters=2,
        arr=KE.space_arrays(KE.quantized_arr(embeddings), 64),
    )
    return cent


def _exact_top5(rows, qids, score=lambda d: d):
    """Brute-force top-5 per query by (score of squared L2, id), self
    excluded."""
    out = {}
    for qid, qv in ((i, v) for i, v in rows if i in qids):
        scored = sorted(
            (score(sum((a - b) * (a - b) for a, b in zip(v, qv))), i)
            for i, v in rows
            if i != qid
        )
        out[qid] = [(i, s) for s, i in scored[:5]]
    return out


def _by_qid(rows):
    got: dict = {}
    for r in rows:
        got.setdefault(r.qid, []).append((r.id, r.score))
    return {q: sorted(v, key=lambda t: (t[1], t[0])) for q, v in got.items()}


def test_full_probe_is_exact(spark, embeddings, model):
    """Probing all k trained cells returns exactly the brute-force
    integer top-5 on the quantized vectors."""
    qarr = KE.quantized_arr(embeddings)
    standing = KE.standing_semdedup_cells(embeddings, model, _K)
    got = KE.ivf_batch_topk(
        embeddings.filter(F.col("vec_id").isin(*_QIDS)),
        model,
        standing,
        tau_k=5,
        k=_K,
        nprobe=_K,
    ).collect()
    rows = [(r.id, list(r.q)) for r in qarr.collect()]
    assert _by_qid(got) == _exact_top5(rows, _QIDS)


def test_batch_full_probe_is_exact(spark, embeddings, sf_dir):
    """sim_ivf_batch probes every kmeans_exact cell, so it must return
    exactly the brute-force float top-5 whatever the trained centroids."""
    from c99_vectordb_spark.queries_ext import q_sim_ivf_batch

    got = _by_qid(q_sim_ivf_batch(spark, sf_dir).collect())
    rows = [(r.vec_id, [float(x) for x in r.embedding]) for r in embeddings.collect()]
    assert got == _exact_top5(rows, _QIDS, lambda d: round(d, 4))


def test_batch_search_plan_has_no_unions(spark, sf_dir):
    """Plan-size guard: one probe join, zero Union nodes — the plan
    must not grow with the number of queries."""
    from c99_vectordb_spark.queries_ext import q_sim_ivf_batch

    plan = q_sim_ivf_batch(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

"""Round-12 optimization regressions: the explicit-parallelism spreads.

Two invariants the r12 plan changes must hold forever:

1. **Result identity** — `session.spread`, the one helper behind the
   similarity scoring spreads, `minhash_lsh_pairs` and
   `orders_bootstrap_ci`, is a pure physical-plan move: hash-spreading
   the corpus side must not change a single output row of the scoring
   operators (scores are the same expressions over the same doubles;
   windows carry total orders).
2. **Plan shape** — the spread is an EXPLICIT-count repartition
   (`REPARTITION_BY_NUM`), because a keyed `repartition(col)` without a
   count is fair game for AQE's byte-sized coalescing, which is blind
   to per-row compute that explodes after the exchange (the round-12
   lesson: orders_bootstrap_ci's 64x md5 fan-out ran in ONE task).
"""

from __future__ import annotations

import pyspark.sql.functions as F


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_spread_preserves_topk_neighbors(spark, embeddings, monkeypatch):
    import c99_vectordb_spark.operators.similarity as S

    emb = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    queries = emb.filter(F.col("id") < 4).select(
        F.col("id").alias("qid"), F.col("vec").alias("qvec")
    )
    spread = _rows(
        S.topk_neighbors(emb, queries, k=5), ["qid", "id", "score"]
    )
    monkeypatch.setattr(S, "spread", lambda df, *keys: df)
    unspread = _rows(
        S.topk_neighbors(emb, queries, k=5), ["qid", "id", "score"]
    )
    assert spread == unspread


def test_spread_preserves_lsh_and_sq(spark, embeddings, monkeypatch):
    import c99_vectordb_spark.operators.similarity as S

    emb = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    queries = emb.filter(F.col("id") < 4).select(
        F.col("id").alias("qid"), F.col("vec").alias("qvec")
    )
    dim = len(emb.select("vec").first()["vec"])
    a_lsh = _rows(
        S.lsh_bucketed_neighbors(emb, queries, dim=dim, k=5),
        ["qid", "id", "score"],
    )
    a_sq = _rows(
        S.sq_topk_batch(embeddings, queries, k=5, qvec_col="qvec"),
        ["qid", "id", "qdist"],
    )
    monkeypatch.setattr(S, "spread", lambda df, *keys: df)
    b_lsh = _rows(
        S.lsh_bucketed_neighbors(emb, queries, dim=dim, k=5),
        ["qid", "id", "score"],
    )
    b_sq = _rows(
        S.sq_topk_batch(embeddings, queries, k=5, qvec_col="qvec"),
        ["qid", "id", "qdist"],
    )
    assert a_lsh == b_lsh
    assert a_sq == b_sq


def test_spread_is_explicit_count_not_coalescible(spark, embeddings):
    """The corpus side must carry REPARTITION_BY_NUM (explicit count):
    AQE may coalesce REPARTITION_BY_COL, silently re-serializing the
    compute-dense scoring stages the spread exists to widen."""
    from c99_vectordb_spark.session import spread as spread_fn

    emb = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    spread = spread_fn(emb, "id")
    n = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == n
    # an explicit-count repartition plans its Exchange with the
    # REPARTITION_BY_NUM shuffle origin (stable public marker since
    # Spark 3.2 — AQE never coalesces that origin), while the keyed
    # coalescible form plans REPARTITION_BY_COL (r12 advice #5: assert
    # on the physical-plan marker, not the optimizedPlan toString)
    plan = spread._sc._jvm.PythonSQLUtils.explainString(
        spread._jdf.queryExecution(), "formatted"
    )
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "REPARTITION_BY_COL" not in plan, plan


def test_minhash_spread_preserves_pairs(spark, documents):
    from c99_vectordb_spark.operators.dedup import (
        minhash_bands,
        minhash_lsh_pairs,
    )

    got = _rows(
        minhash_lsh_pairs(documents, id_col="doc_id", body_col="text"),
        ["id_a", "id_b"],
    )
    # the unspread relation, recomputed from the raw band join
    bands = minhash_bands(documents, id_col="doc_id", body_col="text")
    a, b = bands.alias("a"), bands.alias("b")
    want = _rows(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct(),
        ["id_a", "id_b"],
    )
    assert got == want

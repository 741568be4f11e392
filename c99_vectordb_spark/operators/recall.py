"""V1-V5, F12, O1/O2 — vector search (the "join" of this engine).

Reference semantics (/root/reference/memo_cli.py:288-298,453-524 and
SURVEY.md §2.4/§3.1): embed the query, rank ALL records by squared L2
over L2-normalized vectors (≡ cosine ranking), then post-filter and
show top-k. Because the reference's scan is exhaustive and ranked, the
visible result set equals pre-filtering — so the Spark plan is the
natural ``filter → score → orderBy → limit``, which Catalyst executes
as a scan + ``TakeOrderedAndProject`` (per-partition top-k heaps, only
k rows per partition move to the driver — no global sort, no wide
shuffle; this is the plan that survives 100 TB).

Scoring paths:

- integer path (``score_sq_l2_int``): exact integer squared L2 between
  signed-BoW count vectors — used by the DuckDB-oracle checks (exact
  hash-matchable, no FP drift);
- normalized path (``score_sq_l2``): double squared L2 between
  L2-normalized vectors, score ∈ [0,4] — the reference's visible score
  (d² = 2 − 2·cosθ, SURVEY.md §1.4).

Embeddings: ``recall`` scores each record from two integers, its
embedding's squared norm and its dot product with the query's
(``vec_norm2``, ``sparse_dot``), derived from an (id, vec) embeddings
frame after the join. The native store (``tools/headtohead.py``) passes
its (id, vec) embeddings; with ``embeddings=None``
(``__spark_entry__.entry``, the tests) recall embeds the filtered
records in flight with the pandas UDF, in the executors' Python
workers.

``recall_rows`` is the same read path in this process, over the parsed
YAML rows the CLI holds: the reference's one loop, with no JVM. It
filters on a predicate over each record's metadata (the CLI's is
``filters.matches_filter``), computes the same two integers
per record with the sparse token loop (``hashing.embed_text_sparse``),
and scores them with the same double operations in the same order as
``recall``'s plan, so both return the same floats
(``tests/test_embed.py::test_cli_recall_equals_spark_recall``).

Determinism: ties broken by id ascending (reference leaves FAISS ties
unspecified; SURVEY.md §7 risk 4).
"""

from __future__ import annotations

import heapq
import math
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from ..hashing import embed_text_int, embed_text_sparse, is_blank
from ..model import DEFAULT_K, DIM, MAX_K
from ..functions import text as Ft


def clamp_k(k: int | None) -> int:
    """V4 — k clamping: default 2, floor 1, cap MAX_K=100
    (memo_cli.py:18,760,798-801)."""
    if k is None:
        return DEFAULT_K
    return max(1, min(int(k), MAX_K))


def _lit_array(values, cast: str) -> Column:
    return F.array(*[F.lit(v).cast(cast) for v in values])


def score_sq_l2(vec: Column, query: list[float]) -> Column:
    """Double squared-L2 distance to a literal query vector.

    ``zip_with`` + ``aggregate`` keep the arithmetic JVM-side; the
    literal query array is broadcast to every task as part of the plan
    (the moral equivalent of a broadcast nested-loop join of one query
    row against all records, SURVEY.md §2.10).
    """
    q = _lit_array([float(x) for x in query], "double")
    return F.aggregate(
        F.zip_with(vec, q, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda a, v: a + v,
    )


def score_sq_l2_int(vec: Column, query: list[int]) -> Column:
    """Exact integer squared-L2 distance to a literal integer vector."""
    q = _lit_array([int(x) for x in query], "long")
    return F.aggregate(
        F.zip_with(vec, q, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )


def vec_norm2(vec: Column) -> Column:
    """Integer squared norm of an integer vector column."""
    return F.aggregate(
        vec, F.lit(0).cast("long"), lambda a, x: a + x * x
    )


def sparse_dot(vec: Column, query: list[int]) -> Column:
    """Dot product against a sparse integer literal: touches only the
    query's nonzero buckets (element_at is O(1) per bucket) instead of
    a dense zip_with over the full dimension. For a short query (~6
    tokens) this is ~60x less per-row work than the dense form."""
    terms = [
        F.element_at(vec, b + 1) * F.lit(w) for b, w in enumerate(query) if w
    ]
    if not terms:
        return F.lit(0).cast("long")
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def score_sq_l2_int_sparse(vec: Column, query: list[int]) -> Column:
    """Exact integer squared L2 via |d|^2 + |q|^2 - 2 d.q with a sparse
    dot — identical integers to score_sq_l2_int, far cheaper."""
    q2 = sum(int(w) * int(w) for w in query)
    return vec_norm2(vec) + F.lit(q2) - 2 * sparse_dot(vec, query)


def score_neg_dot(vec: Column, query: list[float]) -> Column:
    """Negative dot product (ascending = most similar first)."""
    q = _lit_array([float(x) for x in query], "double")
    return -F.aggregate(
        F.zip_with(vec, q, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda a, v: a + v,
    )


def knn(
    df: DataFrame,
    query_vec,
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    metric: str = "sq_l2",
    pre_filter: Column | None = None,
) -> DataFrame:
    """V2/V3 — exhaustive top-k scored scan with optional pre-filter.

    Output: original columns + ``score``, ordered (score asc, id asc),
    limited to k → physical ``TakeOrderedAndProject``.
    """
    if pre_filter is not None:
        df = df.filter(pre_filter)
    if metric == "sq_l2":
        score = score_sq_l2(F.col(vec_col), query_vec)
    elif metric == "sq_l2_int":
        score = score_sq_l2_int(F.col(vec_col), query_vec)
    elif metric == "neg_dot":
        score = score_neg_dot(F.col(vec_col), query_vec)
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        df.withColumn("score", score)
        .orderBy(F.asc("score"), F.asc(id_col))
        .limit(k)
    )


def recall(
    records: DataFrame,
    query_text: str,
    k: int | None = None,
    filter_col: Column | None = None,
    dim: int = DIM,
    id_col: str = "id",
    body_col: str = "body",
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """Full recall read path (memo_cli.py:453-524, SURVEY.md §3.1).

    Embeds ``query_text`` driver-side (one string), embeds records
    in-flight unless an (id, vec) ``embeddings`` DataFrame is given,
    applies the compiled metadata filter and the blank-body skip (F12),
    and returns top-k (id, body, score) by normalized squared-L2
    ascending. The reference's score floor (F11, ``score < -0.9``) is
    omitted: the score lies in [0, 4], so it never removes a row.
    """
    from ..functions.embed import build_embeddings

    k = clamp_k(k)
    qint = embed_text_int(query_text, dim)
    qnorm = math.sqrt(sum(w * w for w in qint))

    base = records.filter(~Ft.is_blank(F.col(body_col)))  # F12
    if filter_col is not None:
        base = base.filter(filter_col)
    if embeddings is None:
        emb = build_embeddings(base, id_col=id_col, body_col=body_col, dim=dim)
    else:
        emb = embeddings
    # normalized squared L2 = 2 - 2*cos = 2 - 2*(d.q)/(|d||q|), with the
    # sparse integer dot — no per-document normalization pass. Zero
    # vectors (reference zero-guard, memo_cli.py:131-135): distance is
    # the other side's unit norm (1.0) or 0.0 if both are zero.
    # ``_score`` is the same arithmetic in Python.
    norm2 = vec_norm2(F.col("vec"))
    dot = sparse_dot(F.col("vec"), qint)
    if qnorm <= 1e-8:
        score = F.when(norm2 == 0, F.lit(0.0)).otherwise(F.lit(1.0))
    else:
        cos = dot.cast("double") / (
            F.sqrt(norm2.cast("double")) * F.lit(qnorm)
        )
        score = F.when(norm2 == 0, F.lit(1.0)).otherwise(F.lit(2.0) - 2 * cos)
    scored = (
        base.select(F.col(id_col).alias("id"), F.col(body_col).alias("body"))
        .join(emb, "id")
        .withColumn("score", score)
        .select("id", "body", "score")
    )
    return scored.orderBy(F.asc("score"), F.asc("id")).limit(k)


def _score(norm2: int, dot: int, qnorm: float) -> float:
    """``recall``'s score column for one record, in Python: the same
    double operations, in the same order, on the same integers."""
    if qnorm <= 1e-8:
        return 0.0 if norm2 == 0 else 1.0
    if norm2 == 0:
        return 1.0
    return 2.0 - 2 * (dot / (math.sqrt(norm2) * qnorm))


def recall_rows(
    rows: list[tuple],
    query_text: str,
    k: int | None = None,
    keep: Callable[[dict | None], bool] | None = None,
) -> list[tuple[int, float, str]]:
    """``recall`` over parsed ``(id, body, metadata)`` rows in this
    process: the top-k (id, score, body) of the non-blank records (F12)
    whose metadata ``keep`` accepts (all when None), ranked by (score,
    id). Each record is embedded sparsely, with one token cache for the
    batch, into the two integers ``recall`` scores it by."""
    k = clamp_k(k)
    query = [(b, w) for b, w in embed_text_sparse(query_text, DIM).items() if w]
    qnorm = math.sqrt(sum(w * w for _, w in query))
    cache: dict[str, tuple[int, int]] = {}
    scored = []
    for rid, body, md in rows:
        if is_blank(body) or (keep is not None and not keep(md)):
            continue
        vec = embed_text_sparse(body, DIM, cache)
        norm2 = sum(c * c for c in vec.values())
        dot = sum(w * vec.get(b, 0) for b, w in query)
        scored.append((_score(norm2, dot, qnorm), rid, body))
    return [(rid, score, body) for score, rid, body in heapq.nsmallest(k, scored)]

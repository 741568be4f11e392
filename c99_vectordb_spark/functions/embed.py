"""V1/V5 — signed hashing-trick bag-of-words embedding.

Reference pipeline (/root/reference/memo_cli.py:158-167): lowercase →
``[a-z0-9_]+`` tokens → signed hash into DIM buckets → L2 normalize.
The salted builtin ``hash()`` is replaced by the stable spec in
``hashing.py`` (SURVEY.md §1.3 — intentional behavioral fix).

Two implementations with identical integer results, run in three places:

1. ``embed_expr`` — pure Spark SQL expression (higher-order functions).
   Fully JVM-side, Catalyst-optimizable, and exactly mirrorable in
   DuckDB SQL → this is what the correctness oracle checks.
2. ``hashing.embed_text_sparse`` — the Python implementation, one pass
   over a text's tokens into bucket → count, with a token → (bucket,
   sign) cache (``hashing.embed_text_int`` is its dense view). It runs
   - in the executors' Python workers, as ``embed_pandas_udf`` in
     ``build_embeddings``: map-only (no shuffle), used for bulk builds
     (the native store, streaming, the registry) — at 100 TB one
     narrow stage over the documents table, no wide exchange anywhere;
   - on the driver, over the rows the YAML parse already holds in
     Python, so no CLI verb starts a Python worker: ``embed_rows``
     builds the dense Arrow table that ``save`` and ``reindex`` write
     with pyarrow (neither starts a JVM), and ``recall_terms`` reduces
     each record to the two integers a recall scores it by (no verb
     reads that index).

All produce exact integer count vectors (ARRAY<BIGINT>), or integers
derived from them; the L2-normalized float view is a derived expression
(``normalized``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..hashing import embed_text_int, embed_text_sparse
from ..model import DIM, EMBEDDINGS_SCHEMA, RECALL_TERMS_SCHEMA
from . import text as Ft


def embed_expr(body: Column, dim: int = DIM) -> Column:
    """Pure-expression signed-BoW integer embedding of a string column.

    tokens → per-token (bucket, sign) → fold into a dense ARRAY<BIGINT>
    of length ``dim``. The fold updates one slot per token via
    ``transform`` over the accumulator array; for the short-to-medium
    documents this engine targets the O(tokens·dim) expression cost is
    dwarfed by I/O, and the whole thing stays inside codegen.
    """
    toks = Ft.tokens(body)
    hashes = F.transform(toks, Ft.token_hash)
    zero = F.array_repeat(F.lit(0).cast("long"), dim)
    return F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.transform(
            acc,
            lambda v, i: F.when(
                i == (h % F.lit(dim)).cast("int"),
                v + F.when(h % 2 == 1, F.lit(1)).otherwise(F.lit(-1)),
            ).otherwise(v),
        ),
    )


def embed_pandas_udf(dim: int = DIM):
    """Arrow-batched pandas UDF computing the same integer embedding:
    ``hashing.embed_text_int`` per body, with one token cache per batch;
    exact integer parity with ``embed_expr`` (tested in tests/test_embed.py).
    """

    @F.pandas_udf("array<long>")
    def _embed(bodies: pd.Series) -> pd.Series:
        cache: dict[str, tuple[int, int]] = {}
        return pd.Series([embed_text_int(body, dim, cache) for body in bodies])

    return _embed


def embed_rows(pairs: list[tuple[int, str]]) -> "pa.Table":
    """The (id, vec) Arrow table of ``(id, body)`` pairs, with
    EMBEDDINGS_SCHEMA's Arrow schema (``id int64 not null``, ``vec
    list<int64> not null``), embedded in this (the driver's) process by
    ``hashing.embed_text_sparse`` — the same integers as
    ``build_embeddings`` without a Python worker or a JVM. Every pair is
    embedded, a blank body to the zero vector; ``save``/``reindex``
    pass only the non-blank records, which makes the table
    ``build_embeddings``' rows, and write it with pyarrow.

    The table is dense: 8·DIM bytes (3 KiB) per record, built as one
    int64 block that the list column wraps without a copy."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cache: dict[str, tuple[int, int]] = {}
    ids = np.empty(len(pairs), dtype=np.int64)
    rows: list[int] = []
    buckets: list[int] = []
    counts: list[int] = []
    for i, (rid, body) in enumerate(pairs):
        ids[i] = rid
        sparse = embed_text_sparse(body, DIM, cache)
        rows.extend([i] * len(sparse))
        buckets.extend(sparse)
        counts.extend(sparse.values())
    vecs = np.zeros((len(pairs), DIM), dtype=np.int64)
    vecs[rows, buckets] = counts
    schema = to_arrow_schema(EMBEDDINGS_SCHEMA)
    offsets = np.arange(0, (len(pairs) + 1) * DIM, DIM, dtype=np.int32)
    vec = pa.ListArray.from_arrays(offsets, vecs.ravel(), type=schema.field("vec").type)
    return pa.Table.from_arrays([pa.array(ids), vec], schema=schema)


def recall_terms(
    spark: SparkSession, pairs: list[tuple[int, str]], query_text: str
) -> DataFrame:
    """The (id, norm2, dot) RECALL_TERMS_SCHEMA frame of ``(id, body)``
    pairs: each body's squared norm and its dot product with the
    embedding of ``query_text``, exact int64 — the integers ``operators.recall.vec_norm2`` and
    ``sparse_dot`` compute over ``embed_rows``' vector of the body. A
    blank body scores (0, 0); a recall passes every record and drops the
    blank ones with the Spark-side ``is_blank`` filter.

    Three int64 columns reach the JVM as one Arrow table (24 bytes per
    record), where a dense frame would carry 8·DIM."""
    import pyarrow as pa

    cache: dict[str, tuple[int, int]] = {}
    ids, norm2, dot = [], [], []
    q = [(b, w) for b, w in embed_text_sparse(query_text, DIM).items() if w]
    for rid, body in pairs:
        sparse = embed_text_sparse(body, DIM, cache)
        ids.append(rid)
        norm2.append(sum(c * c for c in sparse.values()))
        dot.append(sum(w * sparse.get(b, 0) for b, w in q))
    table = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "norm2": pa.array(norm2, pa.int64()),
            "dot": pa.array(dot, pa.int64()),
        }
    )
    return spark.createDataFrame(table, RECALL_TERMS_SCHEMA)


def normalized(vec: Column) -> Column:
    """L2-normalized DOUBLE view of an integer/float vector column.

    Zero-guard at norm <= 1e-8 mirrors the reference
    (memo_cli.py:131-135): zero vectors pass through unscaled.
    """
    norm = F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    return F.when(norm <= 1e-8, F.transform(vec, lambda x: x.cast("double"))).otherwise(
        F.transform(vec, lambda x: x.cast("double") / norm)
    )


def build_embeddings(
    records: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    dim: int = DIM,
) -> DataFrame:
    """V5 — batch embedding/index build (memo_cli.py:272-285).

    Skips blank bodies exactly like the reference's rebuild
    (memo_cli.py:278-280). Map-only job: scan → project; embeddings
    are co-partitioned with their source split, so a downstream
    write preserves partitioning with no exchange.
    """
    emb = embed_pandas_udf(dim)(F.col(body_col))
    return (
        records.filter(~Ft.is_blank(F.col(body_col)))
        .select(F.col(id_col).alias("id"), emb.alias("vec"))
    )

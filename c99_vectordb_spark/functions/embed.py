"""V1/V5 — signed hashing-trick bag-of-words embedding.

Reference pipeline (/root/reference/memo_cli.py:158-167): lowercase →
``[a-z0-9_]+`` tokens → signed hash into DIM buckets → L2 normalize.
The salted builtin ``hash()`` is replaced by the stable spec in
``hashing.py`` (SURVEY.md §1.3 — intentional behavioral fix).

Two implementations with identical integer results, run in three places:

1. ``embed_expr`` — pure Spark SQL expression (higher-order functions).
   Fully JVM-side, Catalyst-optimizable, and exactly mirrorable in
   DuckDB SQL → this is what the correctness oracle checks.
2. ``hashing.embed_text_int`` — the Python implementation, with a
   token → (bucket, sign) cache. It runs
   - in the executors' Python workers, as ``embed_pandas_udf`` in
     ``build_embeddings``: map-only (no shuffle), used for bulk builds
     (the native store, streaming, the registry) — at 100 TB one
     narrow stage over the documents table, no wide exchange anywhere;
   - on the driver, as ``embed_rows``: every CLI verb that embeds
     (``save``, ``reindex``, and a recall on a YAML store without a
     valid index) embeds the rows the YAML parse already holds in
     Python, so no CLI verb starts a Python worker.

All produce exact integer count vectors (ARRAY<BIGINT>); the
L2-normalized float view is a derived expression (``normalized``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..hashing import embed_text_int
from ..model import DIM, EMBEDDINGS_SCHEMA
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


def embed_rows(spark: SparkSession, pairs: list[tuple[int, str]]) -> DataFrame:
    """The (id, vec) EMBEDDINGS_SCHEMA frame of ``(id, body)`` pairs,
    embedded in this (the driver's) process by
    ``hashing.embed_text_int`` — the same integers as
    ``build_embeddings`` without a Python worker. Every pair is
    embedded, a blank body to the zero vector: ``save``/``reindex``
    pass only the non-blank records, which makes the frame
    ``build_embeddings``' rows; a recall passes all of them and drops
    the blank ones with the Spark-side ``is_blank`` filter.

    The vectors reach the JVM as one Arrow table; its scan runs no
    Python. The frame is dense: 8·DIM bytes (3 KiB) per record here,
    and about twice that in the JVM, which ships it inside the scan's
    task binaries."""
    import numpy as np
    import pyarrow as pa

    cache: dict[str, tuple[int, int]] = {}
    ids = np.empty(len(pairs), dtype=np.int64)
    vecs = np.zeros((len(pairs), DIM), dtype=np.int64)
    for i, (rid, body) in enumerate(pairs):
        ids[i] = rid
        vecs[i] = embed_text_int(body, DIM, cache)
    table = pa.table(
        {"id": ids, "vec": pa.FixedSizeListArray.from_arrays(vecs.ravel(), DIM)}
    )
    return spark.createDataFrame(table, EMBEDDINGS_SCHEMA)


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

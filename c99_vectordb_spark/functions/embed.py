"""V1/V5 — signed hashing-trick bag-of-words embedding, two ways.

Reference pipeline (/root/reference/memo_cli.py:158-167): lowercase →
``[a-z0-9_]+`` tokens → signed hash into DIM buckets → L2 normalize.
The salted builtin ``hash()`` is replaced by the stable spec in
``hashing.py`` (SURVEY.md §1.3 — intentional behavioral fix).

Two implementations with identical integer results:

1. ``embed_expr`` — pure Spark SQL expression (higher-order functions).
   Fully JVM-side, Catalyst-optimizable, and exactly mirrorable in
   DuckDB SQL → this is what the correctness oracle checks.
2. ``embed_pandas_udf`` — Arrow-batched pandas UDF with a per-batch
   token-hash cache. Map-only (no shuffle), used by default for bulk
   embedding builds: at 100 TB this is one narrow stage over the
   documents table, no wide exchange anywhere.

Both produce exact integer count vectors (ARRAY<BIGINT>); the
L2-normalized float view is a derived expression (``normalized``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..model import DIM
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
    """Arrow-batched pandas UDF computing the same integer embedding.

    Vectorized per batch with a token→(bucket, signed) cache; exact
    integer parity with ``embed_expr`` (tested in tests/test_embed.py).
    """
    import numpy as np

    from ..hashing import token_hash, tokenize

    @F.pandas_udf("array<long>")
    def _embed(bodies: pd.Series) -> pd.Series:
        cache: dict[str, tuple[int, int]] = {}
        out = []
        for body in bodies:
            vec = np.zeros(dim, dtype=np.int64)
            if body:
                for tok in tokenize(body):
                    hit = cache.get(tok)
                    if hit is None:
                        h = token_hash(tok)
                        hit = (h % dim, 1 if h & 1 else -1)
                        cache[tok] = hit
                    vec[hit[0]] += hit[1]
            out.append(vec)
        return pd.Series(out)

    return _embed


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

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
   - in the CLI's process, over the rows the YAML parse already holds,
     so no CLI verb starts a JVM or a Python worker: ``embed_rows``
     builds the dense Arrow table that ``save`` and ``reindex`` write
     with pyarrow, and ``operators.recall.recall_rows`` reduces each
     record to the two integers a recall scores it by (no verb reads
     that index).

All produce exact integer count vectors (ARRAY<BIGINT>), or integers
derived from them; the L2-normalized float view is a derived expression
(``normalized``).
"""

# No ``from __future__ import annotations``: PySpark reads the pandas
# UDF's type hints, which must resolve to pandas' classes, and pandas is
# imported only where the UDF is built (a CLI verb never imports it).

from pyspark.sql import Column, DataFrame, functions as F

from ..hashing import embed_text_int, embed_text_sparse
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
    """Arrow-batched pandas UDF computing the same integer embedding:
    ``hashing.embed_text_int`` per body, with one token cache per batch;
    exact integer parity with ``embed_expr`` (tested in tests/test_embed.py).
    """
    import pandas as pd

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
    int64 block that the list column wraps without a copy. The columns
    wrap numpy's buffers: handing pyarrow a numpy array would import
    pandas, which pyarrow probes for."""
    import numpy as np
    import pyarrow as pa

    schema = pa.schema([
        pa.field("id", pa.int64(), nullable=False),
        pa.field("vec", pa.list_(pa.field("element", pa.int64())), nullable=False),
    ])
    n = len(pairs)
    cache: dict[str, tuple[int, int]] = {}
    ids = np.empty(n, dtype=np.int64)
    rows: list[int] = []
    buckets: list[int] = []
    counts: list[int] = []
    for i, (rid, body) in enumerate(pairs):
        ids[i] = rid
        sparse = embed_text_sparse(body, DIM, cache)
        rows.extend([i] * len(sparse))
        buckets.extend(sparse)
        counts.extend(sparse.values())
    vecs = np.zeros((n, DIM), dtype=np.int64)
    vecs[rows, buckets] = counts
    offsets = np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32)
    values = pa.Array.from_buffers(pa.int64(), n * DIM, [None, pa.py_buffer(vecs)])
    vec = pa.Array.from_buffers(
        schema.field("vec").type, n, [None, pa.py_buffer(offsets)], children=[values]
    )
    id_col = pa.Array.from_buffers(pa.int64(), n, [None, pa.py_buffer(ids)])
    return pa.Table.from_arrays([id_col, vec], schema=schema)


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

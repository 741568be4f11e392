"""Schemas and constants for the record + embedding tables.

Reference data model (SURVEY.md §1; /root/reference/memo_cli.py:47-135):
one logical record table ``(id, body, metadata)`` plus a derived vector
index. Here the canonical store is Parquet and the "index" is a derived
embeddings DataFrame — batch scoring / LSH instead of online ANN.

Metadata in the reference is dynamically typed YAML (scalars, lists,
maps). Spark needs a stable schema, so a record carries three parallel
metadata columns that together preserve the reference's dynamic-typing
semantics (memo_cli.py:179-198 compare_values/bare_equals):

- ``metadata``       MAP<STRING,STRING>          — stringified scalar values
- ``metadata_types`` MAP<STRING,STRING>          — original YAML type tag per
  key: one of 'int','float','bool','str','date','list','map'
- ``metadata_lists`` MAP<STRING,ARRAY<STRING>>   — list-valued keys
  (stringified elements), for $contains / bare-equality-on-list

This triple is what the filter compiler (operators/filters.py) consumes.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Embedding dimensionality of the text embedding (reference DIM=384,
#: memo_cli.py:17). The driver's synthetic ``embeddings`` table is 64-d;
#: dim is a parameter everywhere, 384 is only the default.
DIM = 384

#: Max k for recall top-k (reference MAX_K, memo_cli.py:18).
MAX_K = 100
#: Default k for recall (memo_cli.py:760).
DEFAULT_K = 2

#: analyze pagination defaults (memo_cli.py:810-811).
DEFAULT_LIMIT = 100
DEFAULT_OFFSET = 0

#: Stats top-N values before the "other" rollup (memo_cli.py:592).
STATS_TOP_N = 4

#: Modulus for the stable polynomial rolling hash (hashing.py). Chosen
#: prime < 2^30 so (h*31 + c) never overflows int64 and the identical
#: fold is expressible in both Spark SQL and DuckDB SQL.
HASH_MOD = 1_000_000_007
HASH_BASE = 31
#: second independent fold for the WIDE fingerprint (dedup keys): the
#: single ~2^30 hash space mass-collides at corpus scale (birthday at
#: ~37k docs); pairing two independent folds gives ~2^60 —
#: fp_wide = fp1 * HASH_MOD2 + fp2, still < 2^63
HASH_MOD2 = 998_244_353
HASH_BASE2 = 137

METADATA_TYPE = T.MapType(T.StringType(), T.StringType())
METADATA_LISTS_TYPE = T.MapType(T.StringType(), T.ArrayType(T.StringType()))

#: The record table (reference: texts[]/metas[] columnar pair,
#: memo_cli.py:102-107).
RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("body", T.StringType(), True),
        T.StructField("metadata", METADATA_TYPE, True),
        T.StructField("metadata_types", METADATA_TYPE, True),
        T.StructField("metadata_lists", METADATA_LISTS_TYPE, True),
    ]
)

#: Save-batch input (S5): null id = append, non-null id = overwrite
#: (memo_cli.py:369-400 parse_save_yaml_file).
SAVE_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("metadata", METADATA_TYPE, True),
        T.StructField("metadata_types", METADATA_TYPE, True),
        T.StructField("metadata_lists", METADATA_LISTS_TYPE, True),
    ]
)

#: Derived embeddings table (replaces the FAISS .memo file,
#: memo_cli.py:244-262). Integer signed-BoW counts; the normalized
#: float view is derived on demand (functions/embed.py).
EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("vec", T.ArrayType(T.LongType()), False),
    ]
)

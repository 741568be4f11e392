"""S3/S4/S6 — the Parquet-native store (replaces the YAML+FAISS file
pair as the canonical persistence; SURVEY.md §1.5).

A database is a directory:

    <base>/records/      Parquet of RECORDS_SCHEMA (source of truth)
    <base>/embeddings/   Parquet of EMBEDDINGS_SCHEMA (derived; always
                         regenerable — the reference's reindex contract,
                         memo_cli.py:244-248)

Writes are atomic via write-temp-dir + rename swap (SURVEY.md §7 risk
6): readers never observe a half-written table, and a crashed writer
leaves only a stale ``.tmp-*`` to garbage-collect. On a real cluster
this maps to a table-format commit (Delta/Iceberg); plain directory
swap keeps the dependency surface stock-PySpark. ``swap_write`` is the
one commit: the store hands it Spark's parquet writer, and the CLI's
``save``/``reindex`` a pyarrow one that writes ``<base>.emb`` with no JVM.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..model import EMBEDDINGS_SCHEMA, RECORDS_SCHEMA


def swap_write(
    target: str,
    write: Callable[[str], None],
    marker: tuple[str, str] | None = None,
) -> None:
    """Atomic-rename directory swap: ``write(tmp)`` fills a fresh
    temporary directory beside ``target``, which then replaces it.
    ``marker`` = (filename, text) writes an underscore-prefixed sidecar
    INTO the tmp dir before the rename (the _SOURCE_SHA256 pattern:
    invisible to Spark's and pyarrow's readers, and it commits
    atomically WITH the table — the property the streaming ingest's
    exactly-once batch marker needs; a marker written after the rename
    would leave a crash window where the table reflects a batch the
    marker doesn't)."""
    tmp = f"{target}.tmp-{uuid.uuid4().hex[:8]}"
    write(tmp)
    if marker is not None:
        with open(os.path.join(tmp, marker[0]), "w") as f:
            f.write(marker[1])
    old = f"{target}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(tmp, target)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)


class ParquetStore:
    """Load/save/clean for one logical record database."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        self.records_path = os.path.join(base, "records")
        self.embeddings_path = os.path.join(base, "embeddings")

    # -- S1/S3: loads (missing -> empty with schema, memo_cli.py:251-262)

    def load_records(self) -> DataFrame:
        if os.path.exists(self.records_path):
            return self.spark.read.schema(RECORDS_SCHEMA).parquet(self.records_path)
        return self.spark.createDataFrame([], RECORDS_SCHEMA)

    def load_embeddings(self) -> DataFrame:
        if os.path.exists(self.embeddings_path):
            return self.spark.read.schema(EMBEDDINGS_SCHEMA).parquet(
                self.embeddings_path
            )
        return self.spark.createDataFrame([], EMBEDDINGS_SCHEMA)

    # -- S2/S4: sinks (atomic swap)

    def save_records(
        self, df: DataFrame, marker: tuple[str, str] | None = None
    ) -> None:
        swap_write(
            self.records_path,
            df.select([f.name for f in RECORDS_SCHEMA.fields]).write.mode("overwrite").parquet,
            marker=marker,
        )

    def save_embeddings(self, df: DataFrame) -> None:
        swap_write(
            self.embeddings_path,
            df.select([f.name for f in EMBEDDINGS_SCHEMA.fields]).write.mode("overwrite").parquet,
        )

    def save(self, records: DataFrame, embeddings: DataFrame) -> None:
        """Transactional-enough pairwise save: records first (source of
        truth), then embeddings (derived — a crash between the two
        leaves a stale-but-regenerable index, never a lying one)."""
        self.save_records(records)
        self.save_embeddings(embeddings)

    # -- S6: drop database (memo_cli.py:308-331; idempotent)

    def clean(self) -> bool:
        """Remove both tables; True if anything existed."""
        existed = False
        for p in (self.records_path, self.embeddings_path):
            if os.path.exists(p):
                shutil.rmtree(p)
                existed = True
        return existed

    def exists(self) -> bool:
        return os.path.exists(self.records_path)


def migrate_yaml_to_parquet(
    spark: SparkSession, yaml_path: str, base: str, dim: int | None = None
) -> "ParquetStore":
    """One-call migration of a reference-format YAML database into the
    native parquet store: adapter-parse the YAML, persist records as
    the source of truth, and build + persist the derived embedding
    index — after which every query a reference user runs works
    against the native store at native speed (HEADTOHEAD.md: 4.7-7.3x
    the reference; the YAML file remains untouched as a rollback
    artifact).

    Parity is the caller's to verify and the registry's
    ``migrate_yaml_store`` query makes it an oracled artifact: record
    count, densified max id, a per-record content fingerprint sum,
    and the index's integer invariants all hash-checked against the
    pre-migration corpus."""
    from ..functions.embed import build_embeddings
    from ..model import DIM
    from . import yaml_io

    records = yaml_io.load_records_yaml(spark, yaml_path)
    store = ParquetStore(spark, base)
    store.save_records(records)
    persisted = store.load_records()
    store.save_embeddings(build_embeddings(persisted, dim=dim or DIM))
    return store

"""M1-M5 — mutation operators: upsert, tombstones, compaction.

Reference write path (/root/reference/memo_cli.py:403-449 command_save,
:334-366 command_reindex, :146-155 is_deleted_record; SURVEY.md §2.7):

- M1 append: new id = next dense id
- M2 overwrite by id: replaces body+metadata in place; overwriting a
  blank/unindexed record is an error
- M3 any overwrite forces a full index rebuild (HNSW limitation) — our
  improvement: only changed rows are re-embedded (embeddings derive
  from the record table transactionally, so the reference's
  save-only-index desync quirk M6 cannot occur here)
- M4 soft delete: tombstone = truthy ``metadata.deleted`` OR the body
  itself parses as a YAML map with truthy ``deleted``
- M5 compaction (reindex): drop blank/deleted, re-assign dense ids
  0..n-1 in surviving id order

Where each runs: the CLI's ``save`` and ``reindex`` apply M1/M2/M5 to
the parsed YAML rows on the driver, as the reference does
(``cli.cmd_save``, ``yaml_io.compact_records``, M4 as
:func:`is_deleted_record`). The Spark operators below serve the native
store, the streaming ingest and the registry, with M4's metadata rule.

Scale notes: the upsert is an outer-join-free ``anti-join + union``
(Delta MERGE semantics in plain Spark). Dense-id assignment needs a
total order; at test scale a single ``row_number`` window is fine, at
100 TB :func:`assign_dense_ids` switches to the two-pass
partition-offset scheme (count per sorted partition -> cumulative
offsets -> per-partition local row_number), which never funnels data
through one task.
"""

from __future__ import annotations

import yaml
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import text as Ft
from .scalable_window import global_rank


# ---------------------------------------------------------------------------
# M4 — tombstone predicate
# ---------------------------------------------------------------------------

def is_deleted_record(metadata: dict | None, body: str | None) -> bool:
    """M4 on one driver-side record, the reference's rule
    (memo_cli.py:146-155): truthy ``metadata['deleted']``, or a body
    that parses as a YAML map with a truthy ``deleted``. ANY exception
    from the parse means not deleted: PyYAML raises plain ValueError
    on e.g. an out-of-range timestamp (``deleted: 2001-99-99``). A body
    without a ``:`` cannot hold a map with a truthy value, so it skips
    the parse."""
    if metadata and metadata.get("deleted"):
        return True
    if not body or ":" not in body:
        return False
    try:
        parsed = yaml.safe_load(body)
    except Exception:  # noqa: BLE001 — the reference catches Exception
        return False
    return isinstance(parsed, dict) and bool(parsed.get("deleted"))


def is_deleted(metadata: Column, metadata_types: Column | None = None) -> Column:
    """M4's metadata rule as a Spark predicate — truthy metadata.deleted.

    'Truthy' is the reference's Python ``bool()`` on the ORIGINAL YAML
    value (memo_cli.py:146-148), reconstructed from the stringified
    triple. When ``metadata_types`` is given the check is exact per
    type tag: int/float compare the cast value to zero (NaN is truthy),
    bool matches its spellings, str is falsy only when empty (the
    string "false" IS truthy in Python), list/map are falsy when empty.
    Without type tags, the fallback falsy list covers every stringified
    form a Python-falsy YAML value can take. The body rule runs only on
    the driver (:func:`is_deleted_record`), where the CLI compacts.
    """
    v = metadata.getItem("deleted")
    if metadata_types is not None:
        tag = metadata_types.getItem("deleted")
        falsy = (
            v.isNull()
            | (tag == "null")
            | ((tag == "bool") & v.isin("False", "false"))
            | ((tag == "int") & F.coalesce(v.try_cast("long") == 0, F.lit(False)))
            | ((tag == "float") & F.coalesce(v.try_cast("double") == 0.0, F.lit(False)))
            | ((tag == "str") & (v == ""))
            | ((tag == "list") & (v == "[]"))
            | ((tag == "map") & (v == "{}"))
        )
    else:
        falsy = v.isNull() | v.isin(
            "False", "false", "0", "0.0", "-0.0", "", "None", "null",
            "[]", "{}",
        )
    return metadata.isNotNull() & ~falsy


# ---------------------------------------------------------------------------
# dense id assignment
# ---------------------------------------------------------------------------

def assign_dense_ids(
    df: DataFrame,
    order_col: str = "id",
    out_col: str = "new_id",
    start: int = 0,
    scalable: bool = False,
) -> DataFrame:
    """Assign dense ids 0..n-1 (plus ``start``) in ``order_col`` order.

    ``scalable=True`` uses :func:`scalable_window.global_rank`, the
    two-pass range-partition scheme (per-partition counts -> broadcast
    offsets -> local row_number), so no single-task global window
    runs anywhere.
    """
    if not scalable:
        w = Window.orderBy(order_col)
        return df.withColumn(out_col, F.row_number().over(w) - 1 + start)
    ranked = global_rank(df, [F.col(order_col)], out_col)
    return ranked.withColumn(out_col, F.col(out_col) - 1 + start)


# ---------------------------------------------------------------------------
# M1/M2 — upsert (save batch)
# ---------------------------------------------------------------------------

def upsert(
    records: DataFrame,
    batch: DataFrame,
    id_col: str = "id",
    scalable: bool = False,
    max_id: int | None = None,
) -> DataFrame:
    """Apply a save batch: rows with a non-null existing id overwrite in
    place (M2), rows with null id append with dense ids after the
    current max (M1, new id = next dense id).

    ``batch`` schema: (id BIGINT nullable, body STRING, metadata...).
    Overwrites of non-existent ids are a validation error
    (memo_cli.py:426-428) — callers run :func:`validate_overwrites`
    first. The reference applies batch entries in order, so two
    overwrites of the same id within one batch are last-wins
    (memo_cli.py:420-432) — the overwrite side is deduped to the last
    entry per id before the anti-join, keeping the store free of
    duplicate ids. Plan shape: one broadcast-able anti-join + a union;
    only the batch (small side) is shuffled.

    ``max_id``: callers that already scanned records for the current
    max (the streaming ingest does, for its idempotency marker) pass
    it here to skip a second full-table aggregate job.
    """
    seq = batch.withColumn("_seq", F.monotonically_increasing_id())
    w_last = Window.partitionBy(id_col).orderBy(F.col("_seq").desc())
    overwrite = (
        seq.filter(F.col(id_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .drop("_seq", "_rn")
    )
    append = seq.filter(F.col(id_col).isNull()).drop(id_col)

    if max_id is None:
        max_id = records.agg(F.coalesce(F.max(id_col), F.lit(-1))).collect()[0][0]
    appended = assign_dense_ids(
        append,
        order_col="_seq",
        out_col=id_col,
        start=max_id + 1,
        scalable=scalable,
    ).drop("_seq")

    kept = records.join(
        F.broadcast(overwrite.select(id_col)), on=id_col, how="left_anti"
    )
    cols = records.columns
    return kept.select(cols).unionByName(overwrite.select(cols)).unionByName(
        appended.select(cols)
    )


def validate_overwrites(records: DataFrame, batch: DataFrame, id_col: str = "id"):
    """M2 precondition: every non-null batch id must exist in records
    and not be blank (can't overwrite a blank/unindexed record,
    memo_cli.py:426-433 [observed]). Returns list of bad ids."""
    targets = batch.filter(F.col(id_col).isNotNull()).select(id_col)
    valid = records.filter(~Ft.is_blank(F.col("body"))).select(id_col)
    bad = targets.join(valid, on=id_col, how="left_anti").collect()
    return sorted(r[id_col] for r in bad)


# ---------------------------------------------------------------------------
# M5 — compaction / reindex
# ---------------------------------------------------------------------------

def compact(
    records: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    metadata_col: str = "metadata",
    scalable: bool = False,
) -> DataFrame:
    """M5 — drop blank and metadata-tombstoned records, re-sequence ids
    0..n-1 in surviving id order (memo_cli.py:343-366; [observed] id 2
    -> id 1 after a delete). Returns the compacted table with dense ids.
    The CLI's ``reindex`` compacts its parsed rows on the driver
    instead (``yaml_io.compact_records``), body tombstones included."""
    survivors = records.filter(~Ft.is_blank(F.col(body_col)))
    if metadata_col in records.columns:
        tags_col = f"{metadata_col}_types"
        tags = F.col(tags_col) if tags_col in records.columns else None
        survivors = survivors.filter(~is_deleted(F.col(metadata_col), tags))
    out = assign_dense_ids(survivors, order_col=id_col, scalable=scalable)
    return out.drop(id_col).withColumnRenamed("new_id", id_col).select(
        records.columns
    )

"""M1-M5 mutation semantics + property tests (SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from c99_vectordb_spark.model import RECORDS_SCHEMA, SAVE_BATCH_SCHEMA
from c99_vectordb_spark.operators import mutate as M
from c99_vectordb_spark.sources.convert import record_row


def _records(spark, rows):
    return spark.createDataFrame(
        [record_row(i, b, md) for i, b, md in rows], RECORDS_SCHEMA
    )


@pytest.fixture()
def base(spark):
    return _records(
        spark,
        [
            (0, "first record", {"source": "user"}),
            (1, "second record", {"source": "chat"}),
            (2, "third record", {"deleted": True}),
            (3, "   ", None),  # blank
            (4, "fifth record", None),
        ],
    )


def test_append_assigns_next_dense_ids(spark, base):
    batch = spark.createDataFrame(
        [(None, "new a", None, None, None), (None, "new b", None, None, None)],
        SAVE_BATCH_SCHEMA,
    )
    out = M.upsert(base, batch).orderBy("id").collect()
    assert [r.id for r in out] == [0, 1, 2, 3, 4, 5, 6]
    assert {r.body for r in out if r.id >= 5} == {"new a", "new b"}


def test_overwrite_in_place(spark, base):
    batch = spark.createDataFrame(
        [(1, "replaced body", {"source": "system"}, {"source": "str"}, None)],
        SAVE_BATCH_SCHEMA,
    )
    out = {r.id: r for r in M.upsert(base, batch).collect()}
    assert len(out) == 5
    assert out[1].body == "replaced body"
    assert out[1].metadata == {"source": "system"}
    assert out[0].body == "first record"


def test_validate_overwrites_rejects_blank_and_missing(spark, base):
    batch = spark.createDataFrame(
        [
            (3, "target is blank", None, None, None),
            (99, "target missing", None, None, None),
            (0, "fine", None, None, None),
        ],
        SAVE_BATCH_SCHEMA,
    )
    assert M.validate_overwrites(base, batch) == [3, 99]


def test_tombstone_metadata_and_body(spark):
    """The metadata rule runs in Spark; the body rule (a YAML parse)
    runs in the driver-side predicate that the CLI compacts with."""
    df = _records(
        spark,
        [
            (0, "normal", {"deleted": True}),
            (1, "normal", {"deleted": False}),
            (2, "normal", {"deleted": "true"}),
            (6, "normal", None),
        ],
    )
    out = df.filter(M.is_deleted(F.col("metadata"))).select("id").collect()
    assert sorted(r.id for r in out) == [0, 2]
    bodies = {
        "deleted: true": True,  # body-as-YAML tombstone
        "deleted: false": False,
        "just a body with: colon": False,
        # PyYAML raises ValueError on the out-of-range date: not deleted
        "deleted: 2001-99-99": False,
        "{deleted: yes, other: 1}": True,
        "- deleted: true": False,  # a list, not a map
        "normal": False,
        "": False,
    }
    for body, want in bodies.items():
        assert M.is_deleted_record(None, body) is want, body
    assert M.is_deleted_record({"deleted": True}, "normal")
    assert not M.is_deleted_record({"deleted": 0.0}, "normal")


def test_compact_resequences_ids(spark, base):
    out = M.compact(base).orderBy("id").collect()
    # survivors: 0, 1, 4 (2 deleted, 3 blank) -> new ids 0, 1, 2
    assert [(r.id, r.body) for r in out] == [
        (0, "first record"),
        (1, "second record"),
        (2, "fifth record"),
    ]


def test_compact_idempotent(spark, base):
    once = M.compact(base)
    twice = M.compact(once)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_assign_dense_ids_scalable_matches_window(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "old").withColumn(
        "old", (F.col("old") * 7919) % 1000
    )
    a = M.assign_dense_ids(df, order_col="old", scalable=False).collect()
    b = M.assign_dense_ids(df, order_col="old", scalable=True).collect()
    assert sorted((r.old, r.new_id) for r in a) == sorted((r.old, r.new_id) for r in b)


def test_upsert_duplicate_override_ids_last_wins(spark, base):
    """Two overwrites of the same id in one batch: the reference applies
    entries in order, so the later one wins (memo_cli.py:420-432) and
    the store must never hold two rows with the same id."""
    batch = spark.createDataFrame(
        [
            (1, "first write", None, None, None),
            (None, "an append between", None, None, None),
            (1, "second write wins", {"v": "2"}, {"v": "int"}, None),
        ],
        SAVE_BATCH_SCHEMA,
    )
    out = M.upsert(base, batch).collect()
    ids = [r.id for r in out]
    assert len(ids) == len(set(ids)), "duplicate ids in store after upsert"
    by_id = {r.id: r for r in out}
    assert by_id[1].body == "second write wins"
    assert by_id[5].body == "an append between"


def test_is_deleted_python_falsy_forms(spark):
    """bool(metadata['deleted']) parity: 0.0/-0.0/[]/{} are falsy,
    the STRING 'false' is truthy (non-empty str), NaN is truthy."""
    rows = [
        # (id, stringified value, type tag, expected deleted?)
        (0, "0.0", "float", False),
        (1, "-0.0", "float", False),
        (2, "[]", "list", False),
        (3, "{}", "map", False),
        (4, "false", "str", True),   # non-empty string is Python-truthy
        (5, "", "str", False),
        (6, "nan", "float", True),   # float('nan') is truthy
        (7, "0", "int", False),
        (8, "2.5", "float", True),
        (9, "False", "bool", False),
        (10, "True", "bool", True),
        (11, "None", "str", True),   # the STRING "None" is Python-truthy
        (12, "None", "null", False),  # actual YAML null (tag 'null')
    ]
    df = spark.createDataFrame(
        [(i, {"deleted": v}, {"deleted": t}) for i, v, t, _ in rows],
        "id LONG, metadata MAP<STRING,STRING>, metadata_types MAP<STRING,STRING>",
    )
    got = {
        r.id: r.d
        for r in df.select(
            "id",
            M.is_deleted(
                F.col("metadata"), metadata_types=F.col("metadata_types")
            ).alias("d"),
        ).collect()
    }
    for i, v, t, expected in rows:
        assert got[i] == expected, f"value={v!r} tag={t}: got {got[i]}"


def test_compact_keeps_python_falsy_deleted_records(spark):
    """Compaction must not silently drop records whose deleted flag is
    Python-falsy (0.0, [], {}) — the reference keeps them."""
    rows = [
        record_row(0, "keep zero float", {"deleted": 0.0}),
        record_row(1, "keep empty list", {"deleted": []}),
        record_row(2, "keep empty map", {"deleted": {}}),
        record_row(3, "drop true", {"deleted": True}),
        record_row(4, "drop one point five", {"deleted": 1.5}),
    ]
    df = spark.createDataFrame(rows, RECORDS_SCHEMA)
    out = sorted(r.body for r in M.compact(df).collect())
    assert out == ["keep empty list", "keep empty map", "keep zero float"]

"""Parquet store (S3/S4/S6) and YAML adapter (S1/S2/S5) semantics."""

from __future__ import annotations

import os

import pytest

from c99_vectordb_spark.model import RECORDS_SCHEMA
from c99_vectordb_spark.sources import yaml_io
from c99_vectordb_spark.sources.convert import record_row
from c99_vectordb_spark.sources.store import ParquetStore


def _records(spark, rows):
    return spark.createDataFrame(
        [record_row(*r) for r in rows], RECORDS_SCHEMA
    )


def test_store_roundtrip_and_swap(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    assert not store.exists()
    assert store.load_records().count() == 0  # missing -> empty with schema

    df1 = _records(spark, [(0, "one", None), (1, "two", {"a": 1})])
    store.save_records(df1)
    assert store.exists()
    assert store.load_records().count() == 2

    # overwrite-swap: new content fully replaces old, no .tmp leftovers
    df2 = _records(spark, [(0, "replaced", None)])
    store.save_records(df2)
    got = store.load_records().collect()
    assert len(got) == 1 and got[0].body == "replaced"
    leftovers = [p for p in os.listdir(tmp_path / "db") if ".tmp-" in p or ".old-" in p]
    assert leftovers == []


def test_store_clean_idempotent(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    store.save_records(_records(spark, [(0, "x", None)]))
    assert store.clean() is True
    assert store.clean() is False
    assert store.load_records().count() == 0


def test_yaml_validation_errors(spark):
    cases = [
        ("- not a mapping\n", "mapping"),
        ("---\nbody: no id\n", "id and body"),
        ("---\nid: -1\nbody: x\n", "non-negative"),
        ("---\nid: 0\nbody: x\n---\nid: 0\nbody: y\n", "duplicate"),
        ("---\nid: 0\nbody: 17\n", "string"),
        ("---\nid: 0\nbody: x\nmetadata: [1]\n", "mapping"),
    ]
    for text, needle in cases:
        with pytest.raises(yaml_io.YamlValidationError, match=needle):
            yaml_io.parse_records_yaml(text)


def test_yaml_gap_densification():
    rows = yaml_io.parse_records_yaml(
        "---\nid: 0\nbody: a\n---\nid: 3\nbody: d\n"
    )
    assert len(rows) == 4
    assert rows[1][1] == "" and rows[2][1] == ""  # gaps blank-filled
    assert rows[3][1] == "d"


def test_distributed_yaml_parse_error_parity(spark, tmp_path):
    """Duplicate-id and invalid-record errors from a YAML file on disk
    carry the reference's messages through load_records_yaml."""
    import yaml as _y

    base = str(tmp_path / "dup.yaml")
    with open(base, "w", encoding="utf-8") as f:
        f.write(
            _y.safe_dump_all(
                [
                    {"id": 0, "metadata": {}, "body": "a"},
                    {"id": 1, "metadata": {}, "body": "b"},
                    {"id": 1, "metadata": {}, "body": "c"},
                ],
                explicit_start=True,
                sort_keys=False,
            )
        )
    with pytest.raises(yaml_io.YamlValidationError, match="duplicate id 1"):
        yaml_io.load_records_yaml(spark, base)

    bad = str(tmp_path / "bad.yaml")
    with open(bad, "w", encoding="utf-8") as f:
        f.write(
            _y.safe_dump_all(
                [{"id": 0, "metadata": {}, "body": "a"}, {"id": -3, "body": "x"}],
                explicit_start=True,
                sort_keys=False,
            )
        )
    with pytest.raises(yaml_io.YamlValidationError, match="non-negative int: -3"):
        yaml_io.load_records_yaml(spark, bad)


def test_noncanonical_stream_falls_back_to_driver_parse(spark, tmp_path):
    """Valid-YAML stream forms beyond the canonical bare-'---' layout
    ('---' with inline content, '...' end markers, %YAML directives)
    load as the same records as their canonical spelling."""
    text = (
        "%YAML 1.1\n"
        "--- {id: 0, metadata: {}, body: flow style}\n"
        "...\n"
        "---\nid: 1\nmetadata: {}\nbody: block style\n"
    )
    path = str(tmp_path / "odd.yaml")
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    got = yaml_io.load_records_yaml(spark, path).orderBy("id").collect()
    assert [(r.id, r.body) for r in got] == [(0, "flow style"), (1, "block style")]


def test_distributed_error_is_first_in_document_order(spark, tmp_path):
    """With several invalid docs the load raises the FIRST one in
    document order, as the reference does."""
    import yaml as _y

    docs = [{"id": 0, "metadata": {}, "body": "ok"}]
    # doc 1 is the first error; docs 2..40 carry different errors
    docs.append({"id": -7, "body": "first bad"})
    for i in range(2, 41):
        docs.append({"id": i, "body": 123})  # body must be a string
    path = str(tmp_path / "manybad.yaml")
    with open(path, "w", encoding="utf-8") as f:
        f.write(_y.safe_dump_all(docs, explicit_start=True, sort_keys=False))
    with pytest.raises(yaml_io.YamlValidationError, match="non-negative int: -7"):
        yaml_io.load_records_yaml(spark, path)


def test_c_emitter_parity():
    """The adapter's bulk load/save path runs through libyaml
    (fast_safe_dump_all/_load_all in sources/yaml_io) for the ~10x
    parse/emit speedup; this pins the byte-parity contract that makes
    the switch safe: the canonical multi-doc record dump must emit
    IDENTICAL bytes through yaml.safe_dump_all and the C dumper. If
    libyaml is absent the helpers already fall back to pure Python."""
    import yaml

    from c99_vectordb_spark.fmt import LiteralStr

    if not hasattr(yaml, "CSafeDumper"):
        pytest.skip("libyaml not available; helpers use pure python")

    # the record-dump framing must be EXACTLY byte-identical: these
    # bytes are the canonical .yaml file golden-matched to the
    # reference's own safe_dump_all output
    recs = [
        {
            "id": i,
            "metadata": md,
            "body": LiteralStr(body),
        }
        for i, (md, body) in enumerate(
            [
                ({"lang": "en", "pi": 3.14159, "n": 5e-324}, "line1\nline2\n"),
                ({"tags": ["a", 1, True], "d": {"x": None}}, "ümlaut \U0001f600\n"),
                ({}, ""),
                ({"weird": "with: colon", "q": "'quoted'"}, "no trailing newline"),
                ({"huge": 2**62, "neg": -0.0}, "\ttab lead\n"),
            ]
        )
    ]
    py = yaml.safe_dump_all(
        recs, explicit_start=True, sort_keys=False, allow_unicode=True
    )
    # byte-identical through the helper (the astral body in rec 1
    # forces the python fallback; a BMP-only subset goes through
    # libyaml and must also match exactly)
    assert yaml_io.fast_safe_dump_all(
        recs, explicit_start=True, sort_keys=False, allow_unicode=True
    ) == py
    bmp_recs = [r for r in recs if not yaml_io._has_non_bmp(r)]
    assert len(bmp_recs) < len(recs), "fixture lost its astral case"
    py_bmp = yaml.safe_dump_all(
        bmp_recs, explicit_start=True, sort_keys=False, allow_unicode=True
    )
    c_bmp = yaml.dump_all(
        bmp_recs, Dumper=yaml.CSafeDumper, explicit_start=True,
        sort_keys=False, allow_unicode=True,
    )
    assert py_bmp == c_bmp
    # and the fast loader inverts the canonical dump
    assert yaml_io.fast_safe_load_all(py) == list(yaml.safe_load_all(py))


def test_fast_loader_error_text_matches_pure_python():
    """On malformed input the fast loader must raise the PURE-PYTHON
    error text (golden error-message parity): the C scanner's messages
    differ, so fast_safe_load_all falls back before raising."""
    import yaml

    bad = "key: [unclosed\nnext: 1\n- also broken"
    try:
        list(yaml.safe_load_all(bad))
        pytest.skip("fixture unexpectedly parses")
    except yaml.YAMLError as e:
        expected = str(e)
    with pytest.raises(yaml.YAMLError) as ei:
        yaml_io.fast_safe_load_all(bad)
    assert str(ei.value) == expected


_TYPED_YAML = """---
id: 0
metadata: {d: 2024-01-02, nested: {a: 1, b: [1, 2]}, mixed: [1, "x", true, 2.5], ok: true, f: 1.5, s: "\U0001F600 hi", n: null}
body: |-
  typed \U0001F600
---
id: 2
metadata: {lang: en}
body: |-
  after a gap
---
id: 3
body: ""
"""


def test_yaml_load_is_jvm_only(spark, tmp_path):
    """A YAML store, or a missing one, loads as a LocalTableScan: no
    PythonRDD, so no Python worker boots for a verb that runs no UDF;
    the rows equal the driver-side parse's string triple (typed
    metadata, non-BMP text, a gap, a blank body)."""
    from c99_vectordb_spark.model import RECORDS_SCHEMA
    from c99_vectordb_spark.sources.convert import record_row

    path = tmp_path / "db.yaml"
    path.write_text(_TYPED_YAML, encoding="utf-8")
    df = yaml_io.load_records_yaml(spark, str(path))
    empty = yaml_io.load_records_yaml(spark, str(tmp_path / "missing.yaml"))
    for frame in (df, empty):
        lineage = frame._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
    want = spark.createDataFrame(
        [record_row(*r) for r in yaml_io.parse_records_yaml(_TYPED_YAML)],
        RECORDS_SCHEMA,
    )
    assert df.collect() == want.collect()
    assert empty.collect() == [] and empty.schema == RECORDS_SCHEMA


def test_index_read_runs_no_job_and_ignores_stale_index(spark, tmp_path):
    """The index ``save``/``reindex`` write holds the non-blank records
    and the fingerprint of the YAML it derives from, which an edit to
    the YAML no longer matches."""
    import hashlib

    from c99_vectordb_spark import cli

    yaml_path = tmp_path / "db.yaml"
    emb_path = tmp_path / "db.emb"
    yaml_path.write_text(_TYPED_YAML, encoding="utf-8")
    cli._write_embeddings(
        yaml_io.read_records_yaml(str(yaml_path)), str(emb_path), str(yaml_path)
    )
    # blank records are not embedded
    got = spark.read.parquet(str(emb_path)).collect()
    assert sorted(r.id for r in got) == [0, 2]
    recorded = (emb_path / "_SOURCE_SHA256").read_text().strip()
    assert recorded == hashlib.sha256(yaml_path.read_bytes()).hexdigest()
    with open(yaml_path, "a", encoding="utf-8") as f:
        f.write("---\nid: 4\nbody: |-\n  new\n")
    assert recorded != hashlib.sha256(yaml_path.read_bytes()).hexdigest()

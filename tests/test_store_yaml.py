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
    (fast_safe_dump/_load in sources/yaml_io) for the ~10x parse/emit
    speedup; this pins the byte-parity contract that makes the switch
    safe. Every value form the adapter can carry must emit IDENTICAL
    bytes through yaml.safe_dump and the C dumper in BOTH framings the
    code uses (per-key flow dump for metadata_yaml modulo the Python
    emitter's top-level-scalar "..." framing marker, and the canonical
    multi-doc record dump, which takes no marker). If libyaml is
    absent the helpers already fall back to pure Python."""
    import yaml

    from c99_vectordb_spark.fmt import LiteralStr

    if not hasattr(yaml, "CSafeDumper"):
        pytest.skip("libyaml not available; helpers use pure python")

    values = [
        0.1, 1e20, 1e-9, 3.14159, float("inf"), -float("inf"), 1.0,
        123456789.123456789, 1e16, -0.0, 5e-324, 2.5e10,
        0, 42, -7, 2**62, True, False, None,
        "plain", "with: colon", "ümlaut", "emoji \U0001f600",
        "'quoted'", '"dq"', "123", "null", "~", "yes", "no", "on",
        "1e5", "0x1f", "", " lead", "trail ", "\ttabbed", "a" * 300,
        "- dash", "# hash", "[bracket", "{brace", "*star", "&amp",
        "!bang", "|pipe", ">gt", "%pct", "@at", "`tick",
        [1, 2, {"a": 0.5}], {"k": [1.5, "x"], "d": {"n": None}},
        ["ün", [True, 1e-3]],
    ]
    for v in values:
        py = yaml.safe_dump(
            v, default_flow_style=True, sort_keys=False, allow_unicode=True
        )
        c = yaml_io.fast_safe_dump(
            v, default_flow_style=True, sort_keys=False, allow_unicode=True
        )
        # the one allowed diff: python appends "...\n" after top-level
        # scalars; both sides are .strip()ed by _yaml_extras consumers
        # via safe_load, never compared as bytes. Astral content must
        # come back byte-IDENTICAL (the helper falls back to python).
        assert py == c or py == c + "...\n", (v, py, c)
        assert yaml.safe_load(c) == yaml.safe_load(py) or (
            yaml.safe_load(py) != yaml.safe_load(py)  # NaN fixture guard
        )

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
    differ, so fast_safe_load falls back before raising."""
    import yaml

    bad = "key: [unclosed\nnext: 1\n- also broken"
    try:
        yaml.safe_load(bad)
        pytest.skip("fixture unexpectedly parses")
    except yaml.YAMLError as e:
        expected = str(e)
    with pytest.raises(yaml.YAMLError) as ei:
        yaml_io.fast_safe_load(bad)
    assert str(ei.value) == expected

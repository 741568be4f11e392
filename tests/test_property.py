"""Property-based parity (hypothesis): generated metadata x generated
filters against the executed reference, and YAML round-trips."""

from __future__ import annotations

import importlib.util
import pathlib
import sys
import types

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from c99_vectordb_spark.model import RECORDS_SCHEMA
from c99_vectordb_spark.operators import filters as Flt
from c99_vectordb_spark.sources import yaml_io
from c99_vectordb_spark.sources.convert import record_row


@pytest.fixture(scope="module")
def reference():
    if "faiss" not in sys.modules:
        sys.modules["faiss"] = types.ModuleType("faiss")
    spec = importlib.util.spec_from_file_location(
        "memo_cli_ref3", "/root/reference/memo_cli.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["memo_cli_ref3"] = mod
    spec.loader.exec_module(mod)
    return mod


KEYS = ["source", "priority", "category", "tags", "flag"]

scalar_values = st.one_of(
    st.sampled_from(["user", "chat", "pref_ui", "personal", "2", "x y"]),
    st.integers(min_value=-5, max_value=10),
    st.floats(min_value=-2, max_value=5, allow_nan=False).map(lambda f: round(f, 2)),
    st.booleans(),
)
meta_values = st.one_of(
    scalar_values,
    st.lists(st.sampled_from(["food", "ops", "ui", "3"]), max_size=3),
)
metadatas = st.one_of(
    st.none(),
    st.dictionaries(st.sampled_from(KEYS), meta_values, max_size=4),
)

operands = st.sampled_from(["user", "pref", "2", 2, 3.5, True, "food", "ops"])
conditions = st.one_of(
    operands,  # bare equality
    st.tuples(st.sampled_from(["$ne", "$gte", "$lte", "$prefix", "$contains"]), operands).map(
        lambda t: {t[0]: t[1]}
    ),
)
simple_filters = st.dictionaries(st.sampled_from(KEYS), conditions, min_size=1, max_size=2)
filters = st.one_of(
    simple_filters,
    st.lists(simple_filters, min_size=1, max_size=2).map(lambda fs: {"$and": fs}),
    st.lists(simple_filters, min_size=1, max_size=2).map(lambda fs: {"$or": fs}),
)


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,  # deterministic in CI; hunt with --hypothesis-seed manually
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(mds=st.lists(metadatas, min_size=1, max_size=8), filt=filters)
def test_filter_parity_generated(spark, reference, mds, filt):
    expected = {
        i
        for i, md in enumerate(mds)
        if bool(md) and reference.matches_filter(md, filt)
    }
    rows = [record_row(i, f"body {i}", md) for i, md in enumerate(mds)]
    df = spark.createDataFrame(rows, RECORDS_SCHEMA)
    col = Flt.compile_filter(
        filt, Flt.map_resolver(), nonempty=Flt.records_nonempty_metadata()
    )
    got = {r.id for r in df.filter(col).select("id").collect()}
    assert got == expected, f"filter={filt!r} metadatas={mds!r}"


@settings(max_examples=30, deadline=None, derandomize=True)
@given(
    mds=st.lists(
        st.one_of(
            st.none(),
            st.dictionaries(
                st.sampled_from(KEYS),
                st.one_of(
                    st.sampled_from(["user", "x", "2026-01-01"]),
                    st.integers(min_value=0, max_value=9),
                    st.booleans(),
                    st.lists(st.sampled_from(["a", "b"]), max_size=2),
                ),
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=6,
    ),
    bodies=st.lists(
        st.text(
            alphabet="abc XYZ09_\n", min_size=0, max_size=30
        ).filter(lambda s: not s.startswith("\n")),
        min_size=1,
        max_size=6,
    ),
)
def test_yaml_roundtrip_through_reference(reference, tmp_path_factory, mds, bodies):
    """records_to_yaml output loads identically in the REFERENCE loader:
    bodies byte-equal, metadata semantically equal (the parsed rows
    keep the loaded ints/floats/bools/strs/lists)."""
    n = min(len(mds), len(bodies))
    text = yaml_io.records_to_yaml([(i, bodies[i], mds[i]) for i in range(n)])
    p = tmp_path_factory.mktemp("yaml") / "db.yaml"
    p.write_text(text, encoding="utf-8")
    texts, metas = reference.load_yaml_tables(pathlib.Path(p))
    assert texts == [bodies[i] for i in range(n)]
    for i in range(n):
        expect = {str(k): v for k, v in (mds[i] or {}).items()}
        got = metas[i] or {}
        assert got == expect, f"row {i}: {got!r} != {expect!r}"


@settings(max_examples=30, deadline=None, derandomize=True)
@given(
    bodies=st.lists(
        st.text(alphabet="abcdef 012_", min_size=1, max_size=40).filter(
            lambda s: s.strip()
        ),
        min_size=1,
        max_size=5,
    )
)
def test_save_batch_roundtrip(reference, tmp_path_factory, bodies):
    """Our save-batch parser accepts whatever the reference's parser
    accepts, with identical entries.

    NOTE [observed]: the reference rejects a top-level YAML *list* of
    entries ("each YAML document must be a mapping") — only multi-doc
    mappings are valid. Our parser additionally accepts the list form
    (documented superset; see test_cli_golden save test).
    """
    batch_yaml = "".join(f"---\nbody: {b!r}\n" for b in bodies)
    p = tmp_path_factory.mktemp("b") / "batch.yaml"
    p.write_text(batch_yaml, encoding="utf-8")
    ref_entries = reference.parse_save_yaml_file(pathlib.Path(p))
    my_rows = yaml_io.parse_save_batch_yaml(batch_yaml)
    assert [e["body"] for e in ref_entries] == [r[1] for r in my_rows]


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    bodies=st.lists(
        st.text(alphabet="abcde fgh", min_size=3, max_size=40).filter(
            lambda s: s.strip()
        ),
        min_size=2,
        max_size=8,
    ),
    query=st.text(alphabet="abcde fgh", min_size=1, max_size=20).filter(
        lambda s: s.strip()
    ),
)
def test_recall_ranking_matches_python_spec(spark, bodies, query):
    """Spark recall == brute-force python over the same stable-hash
    embedding spec: identical ids, scores within 1e-9."""
    import math

    from c99_vectordb_spark import hashing
    from c99_vectordb_spark.operators import recall as R

    dim = 64
    df = spark.createDataFrame(list(enumerate(bodies)), ["id", "body"])
    got = [(r.id, r.score) for r in R.recall(df, query, k=100, dim=dim).collect()]

    # mirror the engine's sparse formula exactly (2 - 2*dot/(|d||q|) on
    # integer vectors) — the naive sum((x-y)^2) over normalized floats
    # carries FP noise the engine's form doesn't, flipping exact ties
    qi = hashing.embed_text_int(query, dim=dim)
    qnorm = math.sqrt(sum(w * w for w in qi))
    expect = []
    for i, b in enumerate(bodies):
        di = hashing.embed_text_int(b, dim=dim)
        n2 = sum(w * w for w in di)
        if qnorm <= 1e-8 or n2 == 0:
            score = 0.0 if (qnorm <= 1e-8 and n2 == 0) else 1.0
        else:
            dot = sum(x * y for x, y in zip(di, qi))
            score = 2.0 - 2 * (dot / (math.sqrt(n2) * qnorm))
        expect.append((i, score))
    expect.sort(key=lambda t: (t[1], t[0]))

    assert [i for i, _ in got] == [i for i, _ in expect]
    for (_, a), (_, b_) in zip(got, expect):
        assert math.isclose(a, b_, abs_tol=1e-9)


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(mds=st.lists(metadatas, min_size=1, max_size=8), filt=filters)
def test_variant_filter_parity_generated(spark, reference, mds, filt):
    """Same generated metadata x filter parity, through the VARIANT
    layout: JSON-roundtrip each metadata dict into a variant column and
    compare verdicts with the executed reference."""
    import json

    from hypothesis import assume
    from pyspark.sql import functions as F

    # signed zero doesn't survive a decimal roundtrip ('-0.0' -> '0.0');
    # python str() keeps it — a documented non-goal of the variant path
    def has_neg_zero(md):
        return md is not None and any(
            isinstance(v, float) and str(v) == "-0.0" for v in md.values()
        )

    assume(not any(has_neg_zero(md) for md in mds))
    expected = {
        i
        for i, md in enumerate(mds)
        if bool(md) and reference.matches_filter(md, filt)
    }
    rows = [(i, json.dumps(md) if md is not None else None) for i, md in enumerate(mds)]
    df = spark.createDataFrame(rows, "id LONG, j STRING").select(
        "id", F.parse_json("j").alias("metadata_v")
    )
    col = Flt.compile_filter(
        filt, Flt.variant_resolver(), nonempty=Flt.variant_nonempty_metadata()
    )
    got = {r.id for r in df.filter(col).select("id").collect()}
    assert got == expected, f"filter={filt!r} metadatas={mds!r}"


#: int and str keys, YAML nulls and a null key, with filters that name them
_KEYED_METADATAS = [
    {7: "int key", "lang": "en"},
    {"7": "str key"},
    {7: 3},
    {7: [1, "x"]},
    {7: ["x"], "7": "y"},
    {"a": None},
    {"a": None, "b": 1},
    {"a": "None"},
    {None: "null key"},
    {},
]
_KEYED_FILTERS = [
    "7: int key",
    "'7': str key",
    "7: {$gte: 2}",
    "7: {$contains: x}",
    "7: y",
    "a: null",
    "a: None",
    "a: {$ne: null}",
    "a: {$gte: null}",
    "null: null key",
    "b: {$lte: true}",
    "",
]


def _leaves(filt: dict):
    """Each single-key condition of a filter, as a filter of its own."""
    for key, cond in filt.items():
        if key in ("$and", "$or"):
            for sub in cond:
                yield from _leaves(sub)
        else:
            yield {key: cond}


def test_matches_filter_equals_compile_filter(spark):
    """The two filter evaluators agree: ``matches_filter`` (the CLI's,
    on loaded dicts) and ``compile_filter`` (Spark's, on the record
    table ``yaml_io.rows_to_df`` builds) decide alike for every metadata
    dict x filter drawn in 300 derandomized examples of this module's
    strategies, every single condition of those filters on its own, and
    the keyed cases above."""
    cases = []

    @settings(max_examples=300, deadline=None, derandomize=True, database=None)
    @given(mds=st.lists(metadatas, min_size=1, max_size=8), filt=filters)
    def draw(mds, filt):
        cases.append((mds, filt))

    draw()
    assert len(cases) >= 200
    mds = [*{repr(md): md for ms, _ in cases for md in ms}.values(), *_KEYED_METADATAS]
    drawn = [f for _, f in cases]
    drawn += [leaf for f in drawn for leaf in _leaves(f)]
    exprs = [*{repr(f): f for f in drawn}.values(), *_KEYED_FILTERS]
    df = yaml_io.rows_to_df(spark, [(i, "", md) for i, md in enumerate(mds)], RECORDS_SCHEMA)
    nonempty = Flt.records_nonempty_metadata()
    matched = 0
    for start in range(0, len(exprs), 40):
        chunk = exprs[start : start + 40]
        cols = [
            Flt.compile_filter(f, Flt.map_resolver(), nonempty=nonempty).alias(f"f{j}")
            for j, f in enumerate(chunk)
        ]
        for r in df.select("id", *cols).collect():
            for j, f in enumerate(chunk):
                want = bool(r[f"f{j}"])
                assert Flt.matches_filter(Flt.parse_filter_expr(f), mds[r.id]) == want, (
                    f"filter={f!r} metadata={mds[r.id]!r}"
                )
                matched += want
    assert matched > 0

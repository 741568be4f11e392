"""Embedding parity: python spec == Spark expression == pandas UDF == DuckDB."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from c99_vectordb_spark import hashing
from c99_vectordb_spark.functions import embed, text as Ft

DIM = 64  # small dim keeps the expression fold cheap in tests


def test_python_spec_basics():
    assert hashing.tokenize("Hello, Wor_ld 9x!") == ["hello", "wor_ld", "9x"]
    v = hashing.embed_text_int("hello hello", dim=DIM)
    assert sum(abs(x) for x in v) == 2  # same token twice, one bucket
    n = hashing.embed_text("hello world", dim=DIM)
    assert abs(sum(x * x for x in n) - 1.0) < 1e-9


def test_token_hash_matches_duckdb():
    toks = ["abc", "hello", "wor_ld", "9x", "a", "zzzzzzzzzz", "1234567890"]
    expected = [hashing.token_hash(t) for t in toks]
    got = [
        duckdb.sql(
            f"select {hashing.duckdb_token_hash_sql('tok')} from (values ('{t}')) v(tok)"
        ).fetchone()[0]
        for t in toks
    ]
    assert got == expected


@pytest.fixture(scope="module")
def sample(spark, documents):
    return documents.limit(30).select("doc_id", "text")


def test_expr_matches_python(spark, sample):
    rows = (
        sample.withColumn("vec", embed.embed_expr(F.col("text"), DIM))
        .select("doc_id", "text", "vec")
        .collect()
    )
    assert rows
    for r in rows:
        assert r.vec == hashing.embed_text_int(r.text, dim=DIM)


def test_udf_matches_expr(spark, sample):
    rows = (
        sample.withColumn("e", embed.embed_expr(F.col("text"), DIM))
        .withColumn("u", embed.embed_pandas_udf(DIM)(F.col("text")))
        .select("e", "u")
        .collect()
    )
    for r in rows:
        assert list(r.e) == list(r.u)


def test_normalized_unit_norm(spark, sample):
    # note: the UDF column must be materialized in its own projection —
    # Spark can't nest a Python UDF syntactically inside a HOF lambda
    rows = (
        sample.withColumn("vec", embed.embed_pandas_udf(DIM)(F.col("text")))
        .select(embed.normalized(F.col("vec")).alias("n"))
        .collect()
    )
    for r in rows:
        norm2 = sum(x * x for x in r.n)
        assert abs(norm2 - 1.0) < 1e-9


def test_blank_bodies_skipped(spark):
    df = spark.createDataFrame(
        [(0, "real body"), (1, "   "), (2, ""), (3, None)], ["id", "body"]
    )
    out = embed.build_embeddings(df, dim=DIM).collect()
    assert [r.id for r in out] == [0]


def test_embed_cache_is_transparent():
    cache: dict = {}
    for text in ["Hello hello WORLD", "world 9x hello", "", "   "]:
        assert hashing.embed_text_int(text, DIM, cache) == hashing.embed_text_int(
            text, DIM
        )
    assert hashing.embed_text_int(None, DIM, cache) == [0] * DIM


#: bodies by id; the gaps (2-4, 6) densify to blank records
_EDGE_BODIES = {
    0: "",
    1: "  \t ",
    5: "\u00a0\u00a0",  # NBSP only: blank to Spark's Unicode is_blank
    7: "UPPER Case MiXeD",
    8: "\u212a kelvin \u0130stanbul",
    9: "abc_123 9x __init__ 2026",
    10: " ".join(["alpha"] * 1100 + [f"w{i}" for i in range(100)]),
    11: "astral \U0001f600 \U0001d400\U0001d401 text",
    12: "plain words again",
}


def _edge_rows(tmp_path, bodies, metadata=None):
    """The YAML store of ``bodies`` (id -> body) and ``metadata`` (id ->
    dict, ``{}`` for an id it lacks) at ``tmp_path/db.yaml`` and its
    parsed rows."""
    import yaml

    from c99_vectordb_spark.sources import yaml_io

    path = tmp_path / "db.yaml"
    path.write_text(
        yaml.safe_dump_all(
            [
                {"id": i, "metadata": (metadata or {}).get(i, {}), "body": b}
                for i, b in bodies.items()
            ],
            explicit_start=True, allow_unicode=True,
        ),
        encoding="utf-8",
    )
    return path, yaml_io.read_records_yaml(str(path))


def test_driver_embeddings_match_udf(spark, tmp_path):
    """The (id, vec) table embedded on the driver from the parsed YAML
    rows equals the pandas-UDF build on every non-blank record, and embeds
    the blank ones (which recall's is_blank filter drops) to zero."""
    from c99_vectordb_spark.model import DIM as STORE_DIM, RECORDS_SCHEMA
    from c99_vectordb_spark.sources import yaml_io

    _, rows = _edge_rows(tmp_path, _EDGE_BODIES)
    records = yaml_io.rows_to_df(spark, rows, RECORDS_SCHEMA)
    driver = embed.embed_rows([row[:2] for row in rows])
    udf = embed.build_embeddings(records, dim=STORE_DIM)
    got = dict(zip(driver["id"].to_pylist(), driver["vec"].to_pylist()))
    want = {r.id: list(r.vec) for r in udf.orderBy("id").collect()}
    assert sorted(got) == list(range(13))
    assert {i: got[i] for i in want} == want
    assert sorted(set(got) - set(want)) == [0, 1, 2, 3, 4, 5, 6]
    assert all(got[i] == [0] * STORE_DIM for i in set(got) - set(want))
    assert want[10] != [0] * STORE_DIM and max(map(abs, want[10])) > 127


@pytest.mark.parametrize(
    "query",
    ["Alpha alpha w7 upper KELVIN astral text 2026 __init__", "plain words", "!!! ???"],
)
def test_cli_recall_equals_spark_recall(spark, tmp_path, query):
    """The CLI's in-process recall (``recall.recall_rows``) returns what
    ``recall.recall``'s Spark plan returns over the same parsed rows,
    embedded in flight by the pandas UDF: the same ids in the same order
    with the same floats. The edge corpus holds blank, NBSP-only and
    zero-token bodies and one without metadata; the queries include a
    zero-token one; the filters are none, the empty one and a key."""
    import contextlib
    import io

    import yaml

    from c99_vectordb_spark import cli
    from c99_vectordb_spark.model import RECORDS_SCHEMA
    from c99_vectordb_spark.operators import filters as Flt, recall as R
    from c99_vectordb_spark.sources import yaml_io

    bodies = {**_EDGE_BODIES, 13: "!!! ???"}
    metadata = {i: {"lang": "en" if i % 3 else "de"} for i in bodies if i != 12}
    _, rows = _edge_rows(tmp_path, bodies, metadata)
    records = yaml_io.rows_to_df(spark, rows, RECORDS_SCHEMA)
    for expr in (None, "", "lang: en"):
        fcol = None
        argv = ["-f", str(tmp_path / "db"), "recall", "-k", "20", "--yaml", query]
        if expr is not None:
            fcol = Flt.compile_filter(
                expr, Flt.map_resolver(), nonempty=Flt.records_nonempty_metadata()
            )
            argv[3:3] = ["--filter", expr]
        want = [
            (r.id, r.score, r.body)
            for r in R.recall(records, query, k=20, filter_col=fcol, embeddings=None).collect()
        ]
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            assert cli.main(argv) == 0
        got = [(h["id"], h["score"], h["body"]) for h in yaml.safe_load(out.getvalue())["results"]]
        assert got == want, expr
        assert {12, 13} & {i for i, _, _ in got} == ({12, 13} if expr is None else {13}), expr


def _index_schema_ok(spark, emb_path) -> list:
    """The rows of the index at ``emb_path`` once its one part file is
    checked to hold EMBEDDINGS_SCHEMA. Spark's file reader reports every
    column as nullable, so the nullability is checked on the file's own
    schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from c99_vectordb_spark.model import EMBEDDINGS_SCHEMA

    parts = [p for p in emb_path.iterdir() if not p.name.startswith(("_", "."))]
    assert len(parts) == 1, parts
    assert pq.read_schema(parts[0]) == to_arrow_schema(EMBEDDINGS_SCHEMA)
    df = spark.read.parquet(str(emb_path))
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in EMBEDDINGS_SCHEMA
    ]
    return df.collect()


def test_index_file_is_the_udf_build(spark, tmp_path):
    """``<base>.emb`` is one part file of EMBEDDINGS_SCHEMA whose rows are
    the pandas-UDF build over the non-blank records of the edge corpus,
    a zero-token body among them; the blank and NBSP-only ones and the
    gaps are left out."""
    from c99_vectordb_spark import cli
    from c99_vectordb_spark.model import DIM as STORE_DIM, RECORDS_SCHEMA
    from c99_vectordb_spark.sources import yaml_io

    path, rows = _edge_rows(tmp_path, {**_EDGE_BODIES, 13: "!!! ???"})
    emb_path = tmp_path / "db.emb"
    assert cli._write_embeddings(rows, str(emb_path), str(path)) == 7
    got = {r.id: list(r.vec) for r in _index_schema_ok(spark, emb_path)}
    records = yaml_io.rows_to_df(spark, rows, RECORDS_SCHEMA)
    want = {
        r.id: list(r.vec)
        for r in embed.build_embeddings(records, dim=STORE_DIM).collect()
    }
    assert got == want and sorted(got) == [7, 8, 9, 10, 11, 12, 13]
    assert got[13] == [0] * STORE_DIM


@pytest.mark.parametrize(
    "store",
    [None, "---\nid: 0\nbody: ''\n---\nid: 2\nbody: \"\\xA0\"\n"],
    ids=["missing", "all_blank"],
)
def test_reindex_writes_zero_row_index(spark, tmp_path, store):
    """A reindex of a missing store, and of one whose every record is
    blank, writes an index of no rows that reads with EMBEDDINGS_SCHEMA."""
    from c99_vectordb_spark import cli

    if store is not None:
        (tmp_path / "db.yaml").write_text(store, encoding="utf-8")
    assert cli.main(["-f", str(tmp_path / "db"), "reindex"]) == 0
    assert _index_schema_ok(spark, tmp_path / "db.emb") == []


def test_blank_predicates_agree(spark):
    """The Spark ``is_blank`` (recall's and validate_overwrites' filter)
    and the Python one (the driver-side compaction's and save's check)
    agree on a body made of any one BMP code point, alone and between
    spaces. Java's (?U)\\s alone misses U+001C-U+001F, which Python's
    \\s (the reference's) matches."""
    import pandas as pd

    bodies = [
        b for c in range(0x10000) if not 0xD800 <= c <= 0xDFFF
        for b in (chr(c), f" {chr(c)} ")
    ]
    df = spark.createDataFrame(pd.DataFrame({"body": bodies}), "body STRING")
    spark_blank = {
        r.body for r in df.filter(Ft.is_blank(F.col("body"))).collect()
    }
    python_blank = {b for b in bodies if hashing.is_blank(b)}
    assert python_blank == {b for b in bodies if not hashing.normalize_ws(b)}
    assert "\x1c" in python_blank and "\xa0" in python_blank
    assert spark_blank == python_blank


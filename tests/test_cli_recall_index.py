"""Recall scores the parsed YAML records in the CLI's process, with or
without the index ``save``/``reindex`` write: it runs no Spark job, and
the index, even a corrupt one, never changes the answer."""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import os
import re
import uuid

import yaml

from c99_vectordb_spark import cli

#: (metadata, body) by id: after the ordinary records a zero-token one
#: (not blank, a zero vector), a metadata-less one, and a blank and an
#: NBSP-only one (blank to Spark's Unicode is_blank), last, so that the
#: reindex, which drops them, renumbers no other record
_RECORDS = [
    ({"lang": "en"}, "spark hash join on a small table"),
    ({"lang": "zh"}, "window sort over a large scan"),
    ({"lang": "en"}, "vector recall with a metadata filter"),
    ({"lang": "en"}, "Hash JOIN hash join, broadcast the small side"),
    ({"lang": "de"}, "sort merge join over two large tables"),
    ({"lang": "en"}, "recall the small vector index"),
    ({"lang": "en"}, "!!! ???"),
    (None, "a small join without metadata"),
    ({"lang": "en"}, ""),
    ({"lang": "en"}, "\u00a0\u00a0"),
]
_STORE = yaml.safe_dump_all(
    [
        {"id": i, "body": body, **({"metadata": md} if md is not None else {})}
        for i, (md, body) in enumerate(_RECORDS)
    ],
    explicit_start=True, allow_unicode=True,
)

_RECALLS = [
    ["-k", "3", "--filter", "lang: en", "--yaml", "small hash join"],
    ["-k", "4", "vector join table"],
    # every non-blank record: the zero-token one scores 1.0
    ["-k", "20", "--yaml", "small sort"],
    # a zero-token query: 0.0 for a zero vector, 1.0 for the rest
    ["-k", "20", "--yaml", "!!! ???"],
    ["-k", "20", "--filter", "lang: en", "--yaml", "!!! ???"],
]


def _store(tmp_path) -> str:
    (tmp_path / "db.yaml").write_text(_STORE, encoding="utf-8")
    return str(tmp_path / "db")


def _run(argv: list[str]) -> tuple[str, str]:
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        assert cli.main(argv) == 0
    return out.getvalue(), err.getvalue()


def _stdout(argv: list[str]) -> str:
    return _run(argv)[0]


def test_recall_stdout_same_before_and_after_reindex(spark, tmp_path):
    base = _store(tmp_path)
    inflight = [_stdout(["-f", base, "recall", *argv]) for argv in _RECALLS]
    assert _stdout(["-f", base, "reindex"]).startswith("Rebuilt index")
    indexed = [_stdout(["-f", base, "recall", *argv]) for argv in _RECALLS]
    assert indexed == inflight
    assert "id: 3" in inflight[0]
    # the blank records never show; the zero-token one scores 1.0
    # against a query with tokens, and 0.0 against one without
    scores = {
        q: {h["id"]: h["score"] for h in yaml.safe_load(out)["results"]}
        for q, out in zip(("small sort", "!!! ???"), inflight[2:4])
    }
    assert sorted(scores["small sort"]) == list(range(8))
    assert scores["small sort"][6] == 1.0
    assert scores["!!! ???"] == {i: 0.0 if i == 6 else 1.0 for i in range(8)}
    assert 7 not in {h["id"] for h in yaml.safe_load(inflight[4])["results"]}


def test_recall_ignores_a_corrupt_index(spark, tmp_path):
    """No recall reads ``<base>.emb``: with its parquet part overwritten
    by junk and its fingerprint still the YAML's, the answers are the
    ones from before the reindex."""
    base = _store(tmp_path)
    before = [_stdout(["-f", base, "recall", *argv]) for argv in _RECALLS]
    _stdout(["-f", base, "reindex"])
    (part,) = glob.glob(os.path.join(base + ".emb", "part-*.parquet"))
    with open(part, "wb") as f:
        f.write(b"not a parquet file")
    with open(base + ".yaml", "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    with open(os.path.join(base + ".emb", "_SOURCE_SHA256")) as f:
        assert f.read().strip() == digest
    assert [_stdout(["-f", base, "recall", *argv]) for argv in _RECALLS] == before


def _jobs(spark, argv: list[str]) -> tuple[str, str, int]:
    """stdout, stderr and the number of Spark jobs of one CLI run."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, " ".join(argv))
    try:
        out, err = _run(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, err, len(sc.statusTracker().getJobIdsForGroup(group))


def test_verbose_recall_names_its_embedding_source(spark, tmp_path):
    """``-v`` reports on stderr how many records the recall searched on
    the driver, before and after a reindex; neither run starts a Spark
    job in the caller's active session, and stdout is the same as
    without it."""
    base = _store(tmp_path)
    argv = ["recall", *_RECALLS[0]]
    for n in (10, 8):
        if n == 8:
            _stdout(["-f", base, "reindex"])
        plain, _, jobs = _jobs(spark, ["-f", base, *argv])
        out, err, verbose_jobs = _jobs(spark, ["-f", base, "-v", *argv])
        assert out == plain
        assert verbose_jobs == jobs == 0
        notes = [ln for ln in err.splitlines() if ln.startswith("recall: ")]
        assert len(notes) == 1, err
        assert re.fullmatch(
            rf"recall: searched {n} records on the driver in \d+\.\d\d s",
            notes[0],
        ), notes
        assert re.search(
            rf"^parse: read {n} records from {re.escape(base)}\.yaml in ",
            err, re.M,
        ), err

"""Recall with and without the store's index: without one, the records
are embedded on the driver while the YAML is parsed, so the plan runs no
Python UDF; with one, the answer is the same to the byte."""

from __future__ import annotations

import contextlib
import io
import os

from c99_vectordb_spark import cli
from c99_vectordb_spark.operators import recall as R

_STORE = "".join(
    f"---\nid: {i}\nmetadata:\n  lang: {lang}\nbody: |-\n  {body}\n"
    for i, (lang, body) in enumerate([
        ("en", "spark hash join on a small table"),
        ("zh", "window sort over a large scan"),
        ("en", "vector recall with a metadata filter"),
        ("en", "Hash JOIN hash join, broadcast the small side"),
        ("de", "sort merge join over two large tables"),
        ("en", "recall the small vector index"),
    ])
)

_RECALLS = [
    ["-k", "3", "--filter", "lang: en", "--yaml", "small hash join"],
    ["-k", "4", "vector join table"],
]


def _store(tmp_path) -> str:
    (tmp_path / "db.yaml").write_text(_STORE)
    return str(tmp_path / "db")


def _stdout(argv: list[str]) -> str:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert cli.main(argv) == 0
    return out.getvalue()


def test_unindexed_recall_plan_runs_no_python_udf(spark, tmp_path, monkeypatch):
    base = _store(tmp_path)
    frames = []
    recall = R.recall

    def spy(*args, **kwargs):
        frames.append(recall(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(R, "recall", spy)
    _stdout(["-f", base, "recall", *_RECALLS[0]])
    assert not os.path.exists(base + ".emb")
    (frame,) = frames
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "Join" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_recall_stdout_same_before_and_after_reindex(spark, tmp_path):
    base = _store(tmp_path)
    inflight = [_stdout(["-f", base, "recall", *argv]) for argv in _RECALLS]
    assert _stdout(["-f", base, "reindex"]).startswith("Rebuilt index")
    assert cli._read_index(spark, base + ".emb", base + ".yaml") is not None
    indexed = [_stdout(["-f", base, "recall", *argv]) for argv in _RECALLS]
    assert indexed == inflight
    assert "id: 3" in inflight[0]

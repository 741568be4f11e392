"""Tests of the benchmark itself; no Spark session is started.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import re
import sys

import corpus
import proc
import pytest
import run
import yaml

sys.path.insert(0, str(run.ROOT))

from c99_vectordb_spark.hashing import embed_text_int  # noqa: E402
from c99_vectordb_spark.sources.yaml_io import DISTRIBUTED_PARSE_BYTES  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_same_seed_same_yaml_bytes():
    a = corpus.records_yaml(corpus.make_records(7, 500)).encode()
    b = corpus.records_yaml(corpus.make_records(7, 500)).encode()
    assert a == b
    assert a != corpus.records_yaml(corpus.make_records(8, 500)).encode()
    assert corpus.make_query(7, corpus.make_records(7, 500)) == corpus.make_query(
        7, corpus.make_records(7, 500)
    )


@pytest.mark.parametrize("seed", [1, 2])
def test_workloads_straddle_the_parse_threshold(seed):
    size = {
        name: len(corpus.records_yaml(corpus.make_records(seed, n)).encode())
        for name, n in run.WORKLOADS.items()
    }
    assert size["memo_5k"] < DISTRIBUTED_PARSE_BYTES < size["memo_20k"]


def test_embedding_spec_matches_the_package():
    for body, _, _ in corpus.make_records(3, 50):
        dense = [0] * corpus.DIM
        for b, w in corpus.embed_sparse(body).items():
            dense[b] = w
        assert dense == embed_text_int(body)


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    for name in [*e2e, *layers]:
        assert NAME.fullmatch(name), name


def _recall_yaml(hits) -> str:
    """``recall --yaml`` stdout for ``hits``."""
    results = [{"id": i, "score": score, "body": body} for i, score, body in hits]
    return yaml.safe_dump({"results": results}, sort_keys=False)


def _returns(stdout: str):
    """A stand-in for proc.run: a process that exited 0 printing ``stdout``."""
    return lambda *args, **kwargs: proc.Result(0, stdout, "", 1.0, 1 << 20, 1.0)


def _reindex(bench, fingerprint: str):
    """A stand-in for proc.run that acts as a reindex writing an index
    with ``fingerprint``."""

    def run_(argv, cwd, *args, **kwargs):
        assert argv[-1] == "reindex"
        (bench.work / "db.emb").mkdir()
        (bench.work / "db.emb" / "_SOURCE_SHA256").write_text(fingerprint)
        return proc.Result(0, "Rebuilt index from db.yaml\nWrote index: db.emb\n", "", 30.0, 1, 60.0)

    return run_


def test_right_recall_output_counts_as_success(tmp_path, monkeypatch):
    bench = run.Bench("memo_5k", 5, tmp_path)
    monkeypatch.setattr(proc, "run", _returns(_recall_yaml(bench.expected)))
    assert bench.recall() is not None
    assert (bench.attempted, bench.failed) == (1, 0)


def test_injected_wrong_recall_output_counts_as_failure(tmp_path, monkeypatch):
    bench = run.Bench("memo_5k", 5, tmp_path)
    hits = bench.expected
    monkeypatch.setattr(proc, "run", _returns(_recall_yaml([hits[1], hits[0], *hits[2:]])))
    assert bench.recall() is None
    assert (bench.attempted, bench.failed) == (1, 1)


def test_reindex_set_up_is_checked_and_timed(tmp_path, monkeypatch):
    bench = run.Bench("memo_5k", 5, tmp_path)
    generate_s = bench.setup_s
    monkeypatch.setattr(proc, "run", _reindex(bench, hashlib.sha256(bench.yaml).hexdigest()))
    assert bench.set_up() is not None
    assert (bench.attempted, bench.failed) == (1, 0)
    assert bench.setup_s == generate_s + 60.0


def test_stale_index_fingerprint_counts_as_failure(tmp_path, monkeypatch):
    bench = run.Bench("memo_5k", 5, tmp_path)
    monkeypatch.setattr(proc, "run", _reindex(bench, "0" * 64))
    assert bench.set_up() is None
    assert (bench.attempted, bench.failed) == (1, 1)


def test_unindexed_workload_runs_no_reindex(tmp_path, monkeypatch):
    bench = run.Bench("memo_5k", 5, tmp_path)
    bench.indexed = False
    monkeypatch.setattr(proc, "run", _returns("not a recall"))
    values = bench.measure(0)
    assert (bench.attempted, bench.failed) == (1, 1)
    assert values["recall_cpu_s"] == 0.0


def test_check_recall_tolerates_last_bit_score_differences():
    hits = corpus.recall_hits(corpus.make_records(4, 300), "alpha beta")
    nudged = [(i, s + 1e-13, b) for i, s, b in hits]
    assert corpus.check_recall(hits, _recall_yaml(nudged)) is None
    assert corpus.check_recall(hits, "Top 10 results:\n") is not None
    assert corpus.check_recall(hits, _recall_yaml(hits[:-1])) is not None

"""Golden recall parity: my CLI `recall` stdout diffed byte-for-byte
against the EXECUTED reference CLI (/root/reference/memo_cli.py
command_reindex + command_recall) on small corpora.

Two dependency injections make the reference runnable + deterministic,
both at the seams the engine itself documents:

1. ``faiss`` is replaced by an exact brute-force index with the same
   API surface (IndexHNSWFlat/IndexIDMap2/read/write/vector_to_array)
   and faiss's L2-squared float32 scoring. On corpora this small, HNSW
   at efSearch=64 is exhaustive anyway, so rank structure is identical.
2. The builtin ``hash`` inside the reference module is replaced by the
   engine's stable polynomial token hash (hashing.py spec). This is
   the engine's documented substitution for the reference's
   PYTHONHASHSEED-salted ``hash()`` (SURVEY §1.3): same downstream
   semantics (bucket = h % dim, sign = h & 1), so every other stage of
   the reference recall pipeline — normalize, tokenize, embed, L2
   normalize, search, score floor, filter, blank skip, k, formatting —
   executes for real and must match byte-exactly.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import pickle
import sys
import types

import numpy as np
import pytest
import yaml as _yaml

from c99_vectordb_spark import cli
from c99_vectordb_spark.fmt import LiteralStr
from c99_vectordb_spark.hashing import token_hash


class _HNSWParams:
    efConstruction = 0
    efSearch = 0


class IndexHNSWFlat:
    def __init__(self, dim: int, m: int):
        self.dim = dim
        self.hnsw = _HNSWParams()


class IndexIDMap2:
    """Exact (brute-force) stand-in: same results as HNSW on corpora
    smaller than efSearch, same (distance asc, insertion order) tie
    rule as faiss's sequential scan."""

    def __init__(self, base: IndexHNSWFlat):
        self.dim = base.dim
        self._ids: list[int] = []
        self._vecs: list[np.ndarray] = []

    @property
    def ntotal(self) -> int:
        return len(self._ids)

    @property
    def id_map(self):
        return np.asarray(self._ids, dtype=np.int64)

    def add_with_ids(self, X: np.ndarray, ids: np.ndarray) -> None:
        X = np.atleast_2d(np.asarray(X, dtype=np.float32))
        for row, i in zip(X, np.atleast_1d(ids)):
            self._vecs.append(row.copy())
            self._ids.append(int(i))

    def search(self, Q: np.ndarray, k: int):
        q = np.atleast_2d(np.asarray(Q, dtype=np.float32))[0]
        X = np.stack(self._vecs).astype(np.float32)
        d = ((X - q) ** 2).sum(axis=1)
        order = np.lexsort((np.asarray(self._ids), d))[:k]
        scores = d[order].astype(np.float32)[None, :]
        ids = np.asarray(self._ids, dtype=np.int64)[order][None, :]
        return scores, ids


def _fake_faiss() -> types.ModuleType:
    mod = types.ModuleType("faiss")
    mod.IndexHNSWFlat = IndexHNSWFlat
    mod.IndexIDMap2 = IndexIDMap2
    mod.write_index = lambda idx, path: pickle.dump(
        idx, open(path, "wb"), protocol=4
    )
    mod.read_index = lambda path: pickle.load(open(path, "rb"))
    mod.vector_to_array = lambda v: np.asarray(v, dtype=np.int64)
    return mod


@pytest.fixture(scope="module")
def reference():
    saved = sys.modules.get("faiss")
    sys.modules["faiss"] = _fake_faiss()
    try:
        spec = importlib.util.spec_from_file_location(
            "memo_cli_ref_recall", "/root/reference/memo_cli.py"
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules["memo_cli_ref_recall"] = mod
        spec.loader.exec_module(mod)
    finally:
        if saved is not None:
            sys.modules["faiss"] = saved
    # stable-hash injection: module global shadows the builtin
    mod.hash = token_hash
    return mod


# Every body shares the token "note" (at different multiplicities) with
# every query below, so no document is orthogonal to any query — and the
# (overlap, norm) profiles are chosen so that ALL pairwise score gaps
# exceed 0.02 for every test query (checked in exact arithmetic).
# Near-ties would be ordered by arithmetic noise, where real faiss
# (float32) and this engine's double path legitimately disagree.
CORPUS = [
    ("note remember to buy oat milk and coffee beans", {"source": "user", "priority": 3}),
    ("note note spark join merge sort shuffle partitions", {"source": "chat", "priority": 7}),
    ("note the quick brown fox jumps over the lazy dog", {"source": "user"}),
    ("note note note database vector index recall precision", {"source": "chat", "priority": 1}),
    ("note grocery list milk eggs bread butter", {"source": "user", "priority": 5}),
    ("note note note distributed consensus raft paxos", {"source": "chat"}),
    ("   ", {"source": "blank"}),  # blank body: dropped at reindex
    ("note coffee brewing pour over fine grind size", {"source": "user", "priority": 2}),
]


def _cap(fn, *a):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = fn(*a)
    return buf.getvalue(), rc


@pytest.fixture(scope="module")
def golden_db(reference, tmp_path_factory):
    """YAML db written, then REINDEXED BY THE REFERENCE (compaction +
    canonical rewrite + index build through the fake faiss)."""
    tmp = tmp_path_factory.mktemp("recalldb")
    base = str(tmp / "db")
    docs = [
        {"id": i, "metadata": md, "body": LiteralStr(body)}
        for i, (body, md) in enumerate(CORPUS)
    ]
    with open(base + ".yaml", "w", encoding="utf-8") as f:
        f.write(
            _yaml.safe_dump_all(
                docs, explicit_start=True, sort_keys=False, allow_unicode=True
            )
        )
    out, rc = _cap(
        reference.command_reindex, os.path.basename(base), os.path.dirname(base), False
    )
    assert rc == 0, out
    return base


@pytest.mark.parametrize(
    "query,k,filt,as_yaml",
    [
        ("note coffee grind", 3, None, False),
        ("note spark shuffle partitions", 5, None, False),
        ("note milk", 2, None, False),
        ("note vector recall", 4, "source: chat", False),
        ("note coffee grind", 3, "priority: {$gte: 2}", False),
        ("note spark shuffle partitions", 3, None, True),
        ("note milk bread", 10, None, False),  # k > corpus: clamp/exhaust path
    ],
)
def test_cli_recall_golden(spark, reference, golden_db, query, k, filt, as_yaml):
    base = golden_db
    ref_out, ref_rc = _cap(
        reference.command_recall,
        os.path.basename(base),
        query,
        k,
        filt,
        as_yaml,
        os.path.dirname(base),
    )
    argv = ["-f", base, "recall", "-k", str(k)]
    if filt:
        argv += ["--filter", filt]
    if as_yaml:
        argv += ["--yaml"]
    argv += [query]
    my_out, my_rc = _cap(cli.main, argv)
    assert my_rc == ref_rc == 0
    if as_yaml:
        # yaml mode emits the RAW score float: the reference prints the
        # float32 faiss distance, this engine a float64 — same value to
        # ~1e-6 but different repr, so compare structurally with an
        # exact match on ids/bodies/order and a tolerance on score
        ref_res = _yaml.safe_load(ref_out)["results"]
        my_res = _yaml.safe_load(my_out)["results"]
        assert [(r["id"], r["body"]) for r in my_res] == [
            (r["id"], r["body"]) for r in ref_res
        ]
        for a, b in zip(my_res, ref_res):
            assert abs(a["score"] - b["score"]) < 1e-5
    else:
        assert my_out == ref_out, (
            f"query={query!r} k={k} filt={filt!r} yaml={as_yaml}\n"
            f"REF:\n{ref_out}\nMINE:\n{my_out}"
        )


def test_rank_structure_matches_reference(spark, reference, golden_db):
    """Beyond formatting: the full ranking (every id, in order) agrees
    with the reference's exhaustive search for several queries."""
    base = golden_db
    index = reference.load_index(
        reference.build_db_paths(os.path.basename(base), os.path.dirname(base))[0],
        False,
    )
    for query in [
        "note coffee",
        "note spark merge",
        "note dog fox",
        "note bread butter eggs",
    ]:
        qv = reference.embed_text_hash(query)
        ref_rank = [r.doc_id for r in reference.search_all(index, qv)]
        my_out, rc = _cap(
            cli.main, ["-f", base, "recall", "-k", "100", "--yaml", query]
        )
        assert rc == 0
        mine = _yaml.safe_load(my_out)["results"]
        assert [r["id"] for r in mine] == ref_rank, f"query={query!r}"


def test_recall_prebuilt_index_matches_inflight(spark, tmp_path):
    """cmd_recall must produce identical output with and without the
    <base>.emb index that reindex writes (recall never reads it)."""
    base = str(tmp_path / "db")
    # no blank bodies: reindex compaction must be an id-stable no-op so
    # the only variable between the two recalls is the index source
    docs = [
        {"id": i, "metadata": {"k": i}, "body": LiteralStr(body)}
        for i, (body, _) in enumerate(b for b in CORPUS if b[0].strip())
    ]
    with open(base + ".yaml", "w", encoding="utf-8") as f:
        f.write(
            _yaml.safe_dump_all(
                docs, explicit_start=True, sort_keys=False, allow_unicode=True
            )
        )
    before, rc0 = _cap(cli.main, ["-f", base, "recall", "-k", "4", "note coffee"])
    assert rc0 == 0
    out, rc = _cap(cli.main, ["-f", base, "reindex"])
    assert rc == 0, out
    assert os.path.isdir(base + ".emb")
    after, rc2 = _cap(cli.main, ["-f", base, "recall", "-k", "4", "note coffee"])
    assert rc2 == 0
    assert after == before


def test_recall_ignores_stale_index(spark, tmp_path):
    """Externally editing the YAML after reindex leaves the derived
    index stale; recall scores the edited YAML and reflects the edit,
    so M6-style desync cannot occur."""
    base = str(tmp_path / "db")
    docs = [
        {"id": i, "metadata": {}, "body": LiteralStr(body)}
        for i, (body, _) in enumerate(b for b in CORPUS if b[0].strip())
    ]
    with open(base + ".yaml", "w", encoding="utf-8") as f:
        f.write(
            _yaml.safe_dump_all(
                docs, explicit_start=True, sort_keys=False, allow_unicode=True
            )
        )
    out, rc = _cap(cli.main, ["-f", base, "reindex"])
    assert rc == 0, out
    # external edit: replace the best match for "note coffee" with an
    # unrelated body; a stale index would still rank old doc 6 first
    txt = open(base + ".yaml", encoding="utf-8").read()
    assert "coffee brewing pour over fine grind size" in txt
    txt = txt.replace(
        "note coffee brewing pour over fine grind size",
        "note unrelated filler words entirely different",
    )
    open(base + ".yaml", "w", encoding="utf-8").write(txt)
    out2, rc2 = _cap(cli.main, ["-f", base, "recall", "-k", "2", "note coffee grind"])
    assert rc2 == 0
    assert "coffee brewing" not in out2  # edited body cannot appear
    # the result with a stale index must equal a fresh rebuild's
    out3, rc3 = _cap(cli.main, ["-f", base, "reindex"])
    assert rc3 == 0, out3
    out4, rc4 = _cap(cli.main, ["-f", base, "recall", "-k", "2", "note coffee grind"])
    assert rc4 == 0
    assert out2 == out4

"""Golden-transcript parity: my CLI vs the reference CLI, byte-for-byte.

The reference's ``analyze`` path never touches FAISS, so we execute it
in-process (stubbed faiss module) against the same YAML database and
diff stdout exactly. Recall output is format-checked against fmt.*
with scores recomputed from the stable-hash spec (the reference's
salted-hash scores aren't reproducible across processes by design —
SURVEY.md §1.3).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import sys
import types

import pytest

from c99_vectordb_spark import cli, fmt, hashing

DB_YAML = """\
---
id: 0
metadata:
  source: user
  category: personal
  priority: 3
  ts: '2026-01-15'
  tags: [food, personal]
body: |-
  remember the pasta recipe
---
id: 1
metadata:
  source: user
  category: pref_ui
  priority: 2
  ts: '2026-02-01'
body: |-
  dark mode preferred
---
id: 2
metadata:
  source: chat
  category: health
  priority: 5
  ts: '2026-03-10T08:30:00Z'
body: |-
  morning runs tuesday thursday
---
id: 3
metadata:
  source: user
  category: ops
  priority: 1
  ts: '2026-01-20'
body: |-
  rotate the api keys quarterly
---
id: 4
metadata: {}
body: |-
  no metadata record
---
id: 5
metadata:
  source: user
  category: notes
  priority: 4
  ts: '2026-04-02'
body: |-
  quarterly planning doc draft
---
id: 6
metadata:
  source: user
  category: travel
  priority: 2
  ts: '2026-05-11'
body: |-
  book flights for the offsite
"""


@pytest.fixture(scope="module")
def reference():
    if "faiss" not in sys.modules:
        sys.modules["faiss"] = types.ModuleType("faiss")
    spec = importlib.util.spec_from_file_location(
        "memo_cli_ref2", "/root/reference/memo_cli.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["memo_cli_ref2"] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def db_base(tmp_path):
    base = str(tmp_path / "memo")
    with open(base + ".yaml", "w", encoding="utf-8") as f:
        f.write(DB_YAML)
    return base


def _capture(fn, *args, **kwargs) -> tuple[str, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = fn(*args, **kwargs)
    return buf.getvalue(), rc


def _mine(spark, db_base, argv) -> tuple[str, int]:
    return _capture(cli.main, ["-f", db_base, *argv])


def _ref_analyze(reference, db_base, filter_expr, fields=None, stats=None,
                 limit=100, offset=0) -> tuple[str, int]:
    return _capture(
        reference.command_analyze,
        os.path.basename(db_base),
        filter_expr,
        fields,
        stats,
        limit,
        offset,
        os.path.dirname(db_base),
    )


ANALYZE_CASES = [
    {"filter": "source: user"},
    {"filter": "source: user", "fields": ["id", "category", "priority"]},
    {"filter": "{priority: {$gte: 2}}", "fields": ["id", "priority", "tags"],
     "limit": 3, "offset": 1},
    {"filter": "category: {$prefix: pref}"},
    {"filter": "source: user", "stats": "priority"},
    {"filter": "source: user", "stats": "ts"},
    {"filter": "source: user", "stats": "category"},
    {"filter": "source: nobody"},
    {"filter": "category: health", "fields": ["id", "metadata"]},
    {"filter": "source: user", "fields": ["id", "metadata.category", "priority"]},
    {"filter": "source: user", "stats": "id"},
    {"filter": "source: user", "fields": ["id", "nonexistent", "priority"]},
]


@pytest.mark.parametrize("case", ANALYZE_CASES)
def test_analyze_matches_reference_exactly(spark, reference, db_base, case):
    ref_out, ref_rc = _ref_analyze(
        reference,
        db_base,
        case["filter"],
        case.get("fields"),
        case.get("stats"),
        case.get("limit", 100),
        case.get("offset", 0),
    )
    argv = ["analyze", "--filter", case["filter"]]
    if case.get("fields"):
        argv += ["--fields", ",".join(case["fields"])]
    if case.get("stats"):
        argv += ["--stats", case["stats"]]
    if "limit" in case:
        argv += ["--limit", str(case["limit"])]
    if "offset" in case:
        argv += ["--offset", str(case["offset"])]
    my_out, my_rc = _mine(spark, db_base, argv)
    assert my_rc == ref_rc == 0
    assert my_out == ref_out, f"case {case}:\nREF:\n{ref_out}\nMINE:\n{my_out}"


def test_recall_golden_format(spark, db_base):
    out, rc = _mine(spark, db_base, ["recall", "-k", "2", "pasta", "recipe"])
    assert rc == 0
    lines = out.splitlines()
    assert lines[0] == "Top 2 results:"
    # top hit must be the pasta record, score recomputed from the spec
    q = hashing.embed_text("pasta recipe", dim=384)
    d = hashing.embed_text("remember the pasta recipe", dim=384)
    expected = sum((a - b) ** 2 for a, b in zip(q, d))
    assert lines[1] == f"  [0] Score: {expected:.4f} |"
    assert lines[2] == "      remember the pasta recipe"


def test_recall_yaml_empty_db(spark, tmp_path):
    base = str(tmp_path / "empty")
    out, rc = _mine(spark, base, ["recall", "--yaml", "anything"])
    assert rc == 0
    assert out.strip() == "results: []"


def test_recall_filtered(spark, db_base):
    out, _ = _mine(
        spark, db_base, ["recall", "-k", "3", "--filter", "source: chat", "morning"]
    )
    lines = out.splitlines()
    assert lines[0] == "Top 3 results:"
    assert lines[1].startswith("  [2] Score: ")
    assert len([ln for ln in lines if ln.startswith("  [")]) == 1


def test_save_roundtrip_reference_readable(spark, reference, db_base, tmp_path):
    batch = tmp_path / "batch.yaml"
    batch.write_text(
        "- body: a new record about gardening\n  metadata: {source: user}\n"
        "- id: 1\n  body: overwritten preference\n  metadata: {source: system}\n",
        encoding="utf-8",
    )
    out, rc = _mine(spark, db_base, ["save", str(batch)])
    assert rc == 0
    assert out.splitlines() == [
        "Memorized: 'a new record about gardening' (ID: 7)",
        "Memorized: 'overwritten preference' (ID: 1)",
    ]
    # the canonical YAML we wrote must load cleanly in the REFERENCE
    texts, metas = reference.load_yaml_tables(
        __import__("pathlib").Path(db_base + ".yaml")
    )
    assert texts[7] == "a new record about gardening"
    assert texts[1] == "overwritten preference"
    assert metas[1] == {"source": "system"}
    assert metas[0] == {
        "source": "user", "category": "personal", "priority": 3,
        "ts": "2026-01-15", "tags": ["food", "personal"],
    }


def test_reindex_compacts_and_is_idempotent(spark, db_base, tmp_path):
    batch = tmp_path / "del.yaml"
    batch.write_text(
        "- id: 3\n  body: 'deleted: true'\n", encoding="utf-8"
    )
    _mine(spark, db_base, ["save", str(batch)])
    out, rc = _mine(spark, db_base, ["reindex"])
    assert rc == 0
    assert "Compacted: dropped 1 blank/deleted entries" in out
    out2, _ = _mine(spark, db_base, ["reindex"])
    assert "Compacted" not in out2  # idempotent


def test_reindex_swaps_in_fingerprinted_index(spark, db_base):
    """reindex writes <base>.emb through the store's atomic swap: the
    sidecar fingerprint is the SHA-256 of the YAML it rewrote, and no
    temp or retired directory stays behind, also when an index is
    replaced."""
    import hashlib

    for _ in range(2):  # the second run replaces an existing index
        _, rc = _mine(spark, db_base, ["reindex"])
        assert rc == 0
        with open(db_base + ".yaml", "rb") as f:
            want = hashlib.sha256(f.read()).hexdigest()
        with open(os.path.join(db_base + ".emb", "_SOURCE_SHA256")) as f:
            assert f.read() == want
        parent, name = os.path.split(db_base)
        assert sorted(os.listdir(parent)) == [f"{name}.emb", f"{name}.yaml"]


def test_reindex_failed_count_releases_caches(spark, db_base, monkeypatch):
    """A failure while counting the compacted frame must not leave
    either cached frame behind. A cache whose first build fails has
    persisted no RDD yet, but it stays registered with the session's
    cache manager, and the next query over that plan would build it."""
    from pyspark.sql import functions as F

    compact = cli.M.compact

    def failing_compact(records):
        return compact(records).withColumn(
            "body", F.raise_error(F.lit("boom from compact"))
        )

    monkeypatch.setattr(cli.M, "compact", failing_compact)
    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()  # RDDs other tests persisted directly
    with pytest.raises(Exception, match="boom from compact"):
        cli.main(["-f", db_base, "reindex"])
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert persistent().size() == before


def _capture_both(fn, *args) -> tuple[str, str, int]:
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        try:
            rc = fn(*args)
        except SystemExit as e:  # reference main never raises, but be safe
            rc = int(e.code or 0)
    return out.getvalue(), err.getvalue(), rc


# argv cases that exercise only the parse/help/error paths (no FAISS,
# no index build) — byte-exact stdout+stderr+rc parity with the
# executed reference main (memo_cli.py:884-949).
ARGV_ERROR_CASES = [
    ["--help"],
    ["help"],
    [],
    ["-f"],
    ["-f", "  ", "clean"],
    ["analyze", "--filter", "a: b"],          # missing -f
    ["-f", "BASE", "frobnicate"],              # unknown command
    ["-f", "BASE", "clean", "extra"],
    ["-f", "BASE", "reindex", "extra"],
    ["-f", "BASE", "save"],
    ["-f", "BASE", "save", "a.yaml", "b.yaml"],
    ["-f", "BASE", "recall"],
    ["-f", "BASE", "recall", "--yaml"],
    ["-f", "BASE", "recall", "-k"],
    ["-f", "BASE", "recall", "-k", "abc", "query"],
    ["-f", "BASE", "recall", "--filter"],
    ["-f", "BASE", "analyze"],
    ["-f", "BASE", "analyze", "--filter"],
    ["-f", "BASE", "analyze", "--filter", "a: b", "--limit"],
    ["-f", "BASE", "analyze", "--filter", "a: b", "--limit", "ten"],
    ["-f", "BASE", "analyze", "--filter", "a: b", "--offset", "x"],
    ["-f", "BASE", "analyze", "--filter", "a: b", "--fields", " , "],
    ["-f", "BASE", "analyze", "--filter", "a: b", "--stats", "  "],
    ["-f", "BASE", "analyze", "--filter", "a: b", "--bogus"],
]


@pytest.mark.parametrize("argv", ARGV_ERROR_CASES, ids=lambda a: " ".join(a) or "<empty>")
def test_argv_error_paths_match_reference(reference, tmp_path, argv):
    base = str(tmp_path / "argvdb")
    argv = [base if a == "BASE" else a for a in argv]
    old = sys.argv
    sys.argv = ["memo", *argv]
    try:
        ref_out, ref_err, ref_rc = _capture_both(reference.main)
    finally:
        sys.argv = old
    my_out, my_err, my_rc = _capture_both(cli.main, argv)
    assert my_rc == ref_rc, f"{argv}: rc {my_rc} != {ref_rc}\nref err: {ref_err}\nmine: {my_err}"
    assert my_err == ref_err, f"{argv}"
    assert my_out == ref_out, f"{argv}"


def test_clean_messages(spark, db_base):
    out1, _ = _mine(spark, db_base, ["clean"])
    assert out1.startswith("Cleared memory database")
    out2, _ = _mine(spark, db_base, ["clean"])
    assert out2.startswith("Database already empty")


def test_verbose_hints_native_migration_above_threshold(tmp_path, capsys):
    """-v on a YAML at/above yaml_io.DISTRIBUTED_PARSE_BYTES must emit
    the measured adapter-cost hint on stderr; small stores stay quiet."""
    from c99_vectordb_spark import cli

    big = tmp_path / "big.yaml"
    big.write_text("---\nid: 0\nbody: x\n" + "#pad\n" * 10)
    # small file: no hint
    cli._hint_native_migration(True, str(big))
    assert "native parquet store" not in capsys.readouterr().err
    # inflate past the threshold: hint appears, stderr only, -v only
    with open(big, "a") as f:
        f.write("#" * cli.yaml_io.DISTRIBUTED_PARSE_BYTES + "\n")
    cli._hint_native_migration(True, str(big))
    captured = capsys.readouterr()
    assert "native parquet store" in captured.err
    assert captured.out == ""
    cli._hint_native_migration(False, str(big))
    assert "native parquet store" not in capsys.readouterr().err

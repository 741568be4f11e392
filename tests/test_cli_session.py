"""How the CLI runs: no verb starts a JVM or imports pandas, and an
in-process caller's session is left as it was."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from c99_vectordb_spark import cli

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_STORE = "".join(
    f"---\nid: {i}\nmetadata:\n  lang: {lang}\nbody: |-\n  {body}\n"
    for i, (lang, body) in enumerate([
        ("en", "spark hash join on a small table"),
        ("zh", "window sort over a large scan"),
        ("en", "vector recall with a metadata filter"),
    ])
)


def _jvm_args(spark) -> list[str]:
    mgmt = spark.sparkContext._jvm.java.lang.management
    return list(mgmt.ManagementFactory.getRuntimeMXBean().getInputArguments())


def _store(tmp_path) -> str:
    (tmp_path / "db.yaml").write_text(_STORE)
    return str(tmp_path / "db")


def test_long_lived_sessions_keep_the_default_jit(spark):
    assert not any("TieredStopAtLevel" in a for a in _jvm_args(spark))


def test_in_process_main_keeps_the_callers_confs(spark, tmp_path, capsys):
    keys = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.autoBroadcastJoinThreshold": "1MB",
    }
    before = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        rc = cli.main(["-f", _store(tmp_path), "analyze", "--filter", "lang: en"])
        assert rc == 0, capsys.readouterr().err
        assert {k: spark.conf.get(k) for k in keys} == keys
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_verbose_recall_reports_an_empty_filter(tmp_path, capsys):
    """``--filter ""`` is the empty filter, which applies: ``-v`` says
    so, and stdout is the plain run's."""
    argv = ["-f", _store(tmp_path), "recall", "-k", "2", "--filter", "", "vector recall"]
    assert cli.main(argv) == 0
    plain = capsys.readouterr()
    assert cli.main(["-v", *argv]) == 0
    verbose = capsys.readouterr()
    assert verbose.out == plain.out and "Top 2 results" in plain.out
    assert "recall k=2 filter=yes" in verbose.err.splitlines()


# runs the CLI as ``python -m c99_vectordb_spark.cli ARGV`` does, then
# reports on stderr whether it launched a JVM or imported pandas
_COLD_MAIN = textwrap.dedent("""
    import sys
    from pyspark import SparkContext
    from c99_vectordb_spark import cli
    rc = cli.main(sys.argv[1:])
    print(f"JVM launched: {SparkContext._gateway is not None}", file=sys.stderr)
    print(f"pandas imported: {'pandas' in sys.modules}", file=sys.stderr)
    sys.exit(rc)
""")


def _cold(tmp_path, argv: list[str]) -> subprocess.CompletedProcess:
    """One cold ``-v`` verb on the test store, in a new process with an
    empty cache directory. It launches no JVM, imports no pandas, prints
    no session start-up or class archive line and caches nothing."""
    cache = tmp_path / "cache"
    cache.mkdir(exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        XDG_CACHE_HOME=str(cache),
    )
    r = subprocess.run(
        [sys.executable, "-c", _COLD_MAIN, "-v", "-f", str(tmp_path / "db"), *argv],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stderr.splitlines()
    assert "JVM launched: False" in lines, r.stderr
    assert "pandas imported: False" in lines, r.stderr
    assert not [ln for ln in lines if ln.startswith(("startup:", "class archive:"))], r.stderr
    assert list(cache.iterdir()) == []
    return r


def test_cold_reindex_starts_no_jvm(tmp_path):
    _store(tmp_path)
    r = _cold(tmp_path, ["reindex"])
    assert r.stdout == "Rebuilt index from db.yaml\nWrote index: db.emb\n"
    lines = r.stderr.splitlines()
    assert [ln for ln in lines if ln.startswith("index: wrote 3 vectors to ")], r.stderr


@pytest.mark.parametrize(
    "argv",
    [
        ["recall", "-k", "2", "--filter", "lang: en", "vector recall"],
        ["analyze", "--filter", "lang: en", "--stats", "lang"],
    ],
    ids=["recall", "analyze"],
)
def test_cold_read_verb_starts_no_jvm(tmp_path, capsys, argv):
    """A cold recall or analyze filters and ranks or counts the parsed
    rows in its own process: the same stdout as an in-process run."""
    base = _store(tmp_path)
    assert cli.main(["-f", base, *argv]) == 0
    want = capsys.readouterr().out
    assert _cold(tmp_path, argv).stdout == want
    assert want.startswith(("Top 2 results:", "Matched: 2"))


def test_no_verb_imports_pandas(tmp_path):
    """Every verb in turn, each a cold process on the same store."""
    _store(tmp_path)
    batch = tmp_path / "batch.yaml"
    batch.write_text("- body: a new note\n  metadata: {lang: en}\n")
    for argv in (
        ["save", str(batch)],
        ["recall", "-k", "3", "--filter", "lang: en", "--yaml", "note"],
        ["analyze", "--filter", "lang: en", "--fields", "id,lang"],
        ["reindex"],
        ["clean"],
    ):
        _cold(tmp_path, argv)

"""How the CLI gets its SparkSession: the driver-JVM profile of a session
it launches and its class-data archive, and an in-process caller's
session left as it was."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap

from c99_vectordb_spark import class_archive, cli

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


def test_cli_profile_reaches_driver_jvm_beside_user_java_options(tmp_path):
    """The profile goes through spark.driver.defaultJavaOptions, which a
    user's --driver-java-options (spark.driver.extraJavaOptions) does not
    replace: both reach the JVM."""
    probe = textwrap.dedent("""
        import json
        from c99_vectordb_spark import cli
        spark = cli._get_spark()
        mgmt = spark.sparkContext._jvm.java.lang.management
        args = mgmt.ManagementFactory.getRuntimeMXBean().getInputArguments()
        print(json.dumps(list(args)))
        spark.stop()
    """)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS="--driver-java-options -Dmemo.probe=1 pyspark-shell",
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEM="512m",
    )
    r = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    args = json.loads(r.stdout.strip().splitlines()[-1])
    for flag in ("-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC", "-Dmemo.probe=1"):
        assert flag in args, args


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


def test_verbose_startup_line_leaves_stdout_unchanged(spark, tmp_path, capsys):
    base = _store(tmp_path)
    argv = ["-f", base, "recall", "-k", "2", "vector recall"]
    assert cli.main(argv) == 0
    plain = capsys.readouterr()
    assert cli.main(["-v", *argv]) == 0
    verbose = capsys.readouterr()
    assert verbose.out == plain.out and "Top 2 results" in plain.out
    startup = [ln for ln in verbose.err.splitlines() if ln.startswith("startup: ")]
    assert len(startup) == 1
    assert "get_spark" in startup[0] and "JVM options: " in startup[0]
    assert "startup: " not in plain.err


def test_verbose_recall_reports_an_empty_filter(spark, tmp_path, capsys):
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
# reports on stderr whether PySpark's call-site capture imported IPython
_COLD_MAIN = textwrap.dedent("""
    import sys
    from c99_vectordb_spark import cli
    rc = cli.main(sys.argv[1:])
    print(f"IPython imported: {'IPython' in sys.modules}", file=sys.stderr)
    sys.exit(rc)
""")
_RECALL = ["recall", "-k", "2", "--filter", "lang: en", "vector recall"]
# a line of the JVM's unified logging: "[0.510s][warning][cds] ..."
_JVM_LOG = re.compile(r"^\[[0-9.]+s\]\[", re.M)


def _cold_recall(tmp_path, cache, **env) -> subprocess.CompletedProcess:
    """One cold ``-v`` recall on the test store, in a new process whose
    class-data archive lives under ``cache``."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEM="512m",
        XDG_CACHE_HOME=str(cache),
        **env,
    )
    r = subprocess.run(
        [sys.executable, "-c", _COLD_MAIN, "-v", "-f", str(tmp_path / "db"), *_RECALL],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert not _JVM_LOG.search(r.stdout), r.stdout
    return r


def _archive_note(r) -> str:
    notes = [ln for ln in r.stderr.splitlines() if ln.startswith("class archive: ")]
    assert len(notes) == 1, r.stderr[-2000:]
    return notes[0]


def _in_process_recall(tmp_path, capsys) -> str:
    assert cli.main(["-f", _store(tmp_path), *_RECALL]) == 0
    return capsys.readouterr().out


def test_cold_recall_creates_the_class_archive_then_uses_it(spark, tmp_path, capsys):
    """The first cold verb writes the archive, and only a complete one
    gets its name; the next maps it. Neither changes stdout, and the
    CLI's session profile keeps PySpark's call-site capture, and with it
    IPython, out of the process."""
    want = _in_process_recall(tmp_path, capsys)
    cache = tmp_path / "cache"
    first = _cold_recall(tmp_path, cache)
    assert "IPython imported: False" in first.stderr
    assert _archive_note(first).startswith("class archive: created ")
    files = sorted(p.name for p in (cache / "memo-spark").iterdir() if p.is_file())
    assert len(files) == 1 and files[0].endswith(".jsa"), files
    second = _cold_recall(tmp_path, cache)
    assert _archive_note(second) == (
        f"class archive: used {cache / 'memo-spark' / files[0]}"
    )
    assert first.stdout == second.stdout == want


def test_spark_configuration_turns_the_class_archive_off(spark, tmp_path, capsys):
    """A conf directory with configuration cannot be swapped for the
    empty one, and CDS refuses a non-empty directory on the class path:
    the verb runs without an archive."""
    want = _in_process_recall(tmp_path, capsys)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.memo.probe 1\n")
    cache = tmp_path / "cache"
    r = _cold_recall(tmp_path, cache, SPARK_CONF_DIR=str(conf))
    assert _archive_note(r) == (
        f"class archive: off: {conf} holds Spark configuration (spark-defaults.conf)"
    )
    assert not list(cache.glob("memo-spark/*.jsa*"))
    assert r.stdout == want


def test_junk_at_the_archive_path_is_replaced(spark, tmp_path, capsys):
    from pyspark.find_spark_home import _find_spark_home

    want = _in_process_recall(tmp_path, capsys)
    cache = tmp_path / "cache"
    key = class_archive.archive_key(cli.CLI_JAVA_OPTIONS, "512m", _find_spark_home())
    path = cache / "memo-spark" / f"classes-{key}.jsa"
    path.parent.mkdir(parents=True)
    path.write_bytes(b"not an archive\n" * 100)
    r = _cold_recall(tmp_path, cache)
    assert _archive_note(r).startswith(f"class archive: created {path} ")
    assert r.stdout == want
    with open(path, "rb") as f:
        assert f.read(4) == class_archive._MAGIC


def test_archive_key_ignores_per_run_options_and_follows_the_jars(tmp_path, monkeypatch):
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    jar = spark_home / "jars" / "a.jar"
    jar.write_bytes(b"jar")

    def key() -> str:
        return class_archive.archive_key(cli.CLI_JAVA_OPTIONS, "8g", str(spark_home))

    before = key()
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS", f"--driver-java-options -Djava.io.tmpdir={tmp_path} pyspark-shell"
    )
    assert key() == before
    st = jar.stat()
    jar.write_bytes(b"jar2")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert key() != before
    assert class_archive.archive_key(cli.CLI_JAVA_OPTIONS, "4g", str(spark_home)) != key()


def test_cold_reindex_starts_no_jvm(tmp_path):
    """A cold ``-v reindex`` launches no JVM: it reports no session
    start-up and no class archive, and writes none to an empty cache."""
    probe = textwrap.dedent("""
        import sys
        from pyspark import SparkContext
        from c99_vectordb_spark import cli
        rc = cli.main(sys.argv[1:])
        print(f"JVM launched: {SparkContext._gateway is not None}", file=sys.stderr)
        sys.exit(rc)
    """)
    base = _store(tmp_path)
    cache = tmp_path / "cache"
    cache.mkdir()
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        XDG_CACHE_HOME=str(cache),
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, "-v", "-f", base, "reindex"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout == "Rebuilt index from db.yaml\nWrote index: db.emb\n"
    lines = r.stderr.splitlines()
    assert "JVM launched: False" in lines, r.stderr
    assert not [ln for ln in lines if ln.startswith(("startup:", "class archive:"))], r.stderr
    assert [ln for ln in lines if ln.startswith("index: wrote 3 vectors to ")], r.stderr
    assert list(cache.iterdir()) == []

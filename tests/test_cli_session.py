"""How the CLI gets its SparkSession: the driver-JVM profile of a session
it launches, and an in-process caller's session left as it was."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

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

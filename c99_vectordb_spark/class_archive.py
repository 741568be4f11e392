"""The class-data archive of a driver JVM the CLI launches (JDK dynamic AppCDS).

A cold verb's driver JVM loads about 20,000 classes, most of them parsed
and verified from ``$SPARK_HOME/jars``, and it would do so again in
every process. A JVM the CLI launches maps them instead from one archive
per user, kept in ``${XDG_CACHE_HOME:-~/.cache}/memo-spark/``:

- when the archive of the current key exists, the JVM starts with
  ``-XX:SharedArchiveFile=<archive>``;
- when it does not, with ``-XX:ArchiveClassesAtExit=<archive>.tmp-<pid>``.
  After the session stops, ``ClassArchive.finish`` closes the JVM's
  stdin (the gateway JVM exits on its end of file), waits for the dump
  and moves the file into place only if the JVM exited 0: a truncated
  archive crashes the JVM with SIGBUS at start-up, so a partial file
  never gets the final name. The archives of other keys are deleted
  then.

The key is what the JVM validates an archive against: the ``java`` that
``spark-class`` runs and the runtime image it loads, the names, sizes and
mtimes of the jars, the JVM options and the driver memory (it decides
compressed oops). No per-run value is part of it, such as a
``-Djava.io.tmpdir`` in ``PYSPARK_SUBMIT_ARGS``.

CDS refuses a non-empty directory on the class path, and ``spark-class``
puts the conf directory first. When that directory holds no
configuration (only the ``*.template`` files Spark ships), the JVM is
launched with an empty ``<cache>/conf`` as ``SPARK_CONF_DIR``. When it
holds configuration, or another setting adds to the class path, the
archive is off.

Writing the archive costs the verb that does it about twice the CPU
time and peak memory of a run without one, once; the archive is about
150 MB.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shlex
import shutil
import subprocess

#: the first bytes of a JDK dynamic archive (magic 0xf00baba8, little-endian)
_MAGIC = b"\xa8\xab\x0b\xf0"
#: environment variables with which ``spark-class`` adds to the class path
_CLASS_PATH_VARS = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
#: how long ``finish`` waits for the JVM to write the archive and exit
_DUMP_TIMEOUT_S = 600


def cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "memo-spark")


def _java() -> str:
    """The ``java`` that ``spark-class`` runs, resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else ""


def _stat(path: str) -> str:
    try:
        st = os.stat(path)
    except OSError:
        return "-"
    return f"{st.st_size}:{st.st_mtime_ns}"


def archive_key(java_options: str, driver_memory: str, spark_home: str) -> str:
    java = _java()
    parts = [
        java,
        _stat(java),
        _stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")),
        java_options,
        driver_memory,
    ]
    with contextlib.suppress(OSError):
        for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
            if e.name.endswith(".jar"):
                st = e.stat()
                parts.append(f"{e.name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def _off_reason(spark_home: str) -> str | None:
    """Why the launch cannot use an archive: a non-empty directory would
    be on the class path, and a JVM told to write an archive then fails
    to start."""
    for var in _CLASS_PATH_VARS:
        if os.environ.get(var):
            return f"{var} adds to the class path"
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--driver-class-path" in submit or "extraClassPath" in submit:
        return "PYSPARK_SUBMIT_ARGS adds to the class path"
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        configured = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
    except OSError:
        configured = []
    if configured:
        return f"{conf} holds Spark configuration ({', '.join(configured)})"
    return None


def _is_archive(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(len(_MAGIC)) == _MAGIC
    except OSError:
        return False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        pass
    return True


class ClassArchive:
    """One CLI launch's use of the archive: the JVM options to start the
    driver with (``java_options``), the launch environment
    (``launch_env``) and, once the session has stopped, the archive's
    fate (``finish``, which returns the ``-v`` note)."""

    def __init__(self, java_options: str, driver_memory: str):
        from pyspark import SparkContext
        from pyspark.find_spark_home import _find_spark_home

        self.java_options = java_options
        self.path = self._tmp = None
        if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
            self.note = "off: the driver JVM is already running"
            return
        spark_home = _find_spark_home()
        reason = _off_reason(spark_home)
        self._conf = os.path.join(cache_dir(), "conf")
        if reason is None:
            try:
                os.makedirs(self._conf, exist_ok=True)
                if os.listdir(self._conf):
                    reason = f"{self._conf} is not empty"
            except OSError as e:
                reason = str(e)
        if reason is not None:
            self.note = f"off: {reason}"
            return
        key = archive_key(java_options, driver_memory, spark_home)
        self.path = os.path.join(cache_dir(), f"classes-{key}.jsa")
        if _is_archive(self.path):
            self.java_options += f" -XX:SharedArchiveFile={shlex.quote(self.path)}"
            self.note = f"used {self.path}"
        else:
            self._tmp = f"{self.path}.tmp-{os.getpid()}"
            self.java_options += f" -XX:ArchiveClassesAtExit={shlex.quote(self._tmp)}"

    @contextlib.contextmanager
    def launch_env(self):
        """``SPARK_CONF_DIR`` set to the empty conf directory while the
        JVM is launched, then restored."""
        if self.path is None:
            yield
            return
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self._conf
        try:
            yield
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old

    def finish(self) -> str:
        """After ``spark.stop()``: when this launch writes the archive,
        end the JVM, wait for its dump and move the archive into place
        only if the JVM exited 0. Returns the ``-v`` note."""
        if self._tmp is None:
            return self.note
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        # a later session in this process launches a new JVM
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            rc = proc.wait(timeout=_DUMP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return f"not created: the JVM still runs after {_DUMP_TIMEOUT_S} s"
        if rc != 0:
            with contextlib.suppress(OSError):
                os.remove(self._tmp)
            return f"not created: the JVM exited {rc}"
        try:
            os.replace(self._tmp, self.path)
        except OSError as e:
            return f"not created: {e}"
        self._prune()
        return f"created {self.path} ({os.path.getsize(self.path) >> 20} MiB)"

    def _prune(self) -> None:
        """Delete the archives of other keys, and the partial ones whose
        writer has ended."""
        for path in glob.glob(os.path.join(glob.escape(cache_dir()), "classes-*.jsa*")):
            _, _, pid = path.partition(".jsa.tmp-")
            if path == self.path or (pid.isdigit() and _pid_alive(int(pid))):
                continue
            with contextlib.suppress(OSError):
                os.remove(path)

"""CPU time and peak memory of one cold memo verb, split by kind of process.

    python tools/proc_split.py ARGV...

Runs ``python -m c99_vectordb_spark.cli ARGV`` in the current
directory, in its own session, and samples ``/proc`` every 20 ms (with
``perfbench/proc.py``'s reader) until every process of that session has
ended. Each process is put into one kind by its command line:

- ``python driver``: the CLI process itself;
- ``driver JVM``: the JVM that runs ``SparkSubmit``;
- ``python workers``: ``pyspark.daemon`` and the workers it forks;
- ``launcher``: the ``spark-submit``/``spark-class`` scripts and the
  short-lived launcher JVM that computes the driver's command line.

Prints one line per kind: the number of processes seen, their CPU
seconds (user + system, the last value sampled for each process) and
the peak of their summed resident memory, then the peak of the whole
tree's resident memory and the CLI's exit code. A child sampled between
a fork and its exec still reports its parent's resident pages and
command line: the JVM's short-lived helper commands show as ``other``.
A child of the driver JVM that has not yet exec'd shares the JVM's
pages, so it shows as ``other`` but is left out of the total. The CLI's
own stdout is discarded; its stderr is shown when it exits non-zero.
Example:

    python tools/proc_split.py -f /path/to/db recall -k 10 --filter "lang: en" --yaml "some query"

The package it runs is the one of the checkout this file lives in,
whatever the current directory or ``PYTHONPATH``: that checkout comes
first on the child's ``PYTHONPATH``. To measure another tree, run that
tree's copy of the tool.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from proc import _session_members  # noqa: E402

SAMPLE_S = 0.02
KINDS = ("python driver", "driver JVM", "python workers", "launcher", "other")


def _args(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode(errors="replace").split("\0")
    except OSError:
        return None


def _is_driver_jvm(args: list[str] | None) -> bool:
    return bool(args) and os.path.basename(args[0]) == "java" and (
        "org.apache.spark.deploy.SparkSubmit" in " ".join(args)
    )


def _parent(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the field after the ")" that closes the command name
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def classify(pid: int, root: int) -> tuple[str, bool]:
    """The kind of ``pid``, and whether it is a child the driver JVM
    forked, sampled before its exec: such a child still shows the JVM's
    command line and shares its resident pages."""
    if pid == root:
        return "python driver", False
    args = _args(pid)
    if args is None:
        return "other", False
    cmd = " ".join(args)
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "python workers", False
    if "org.apache.spark.launcher.Main" in cmd:
        return "launcher", False
    if _is_driver_jvm(args):
        parent = _parent(pid)
        if parent is not None and _is_driver_jvm(_args(parent)):
            return "other", True
        return "driver JVM", False
    if "spark-submit" in cmd or "spark-class" in cmd:
        return "launcher", False
    return "other", False


def tally(live, root: int, kinds: dict[int, str], cpu: dict[int, float]) -> tuple[dict[str, int], int]:
    """One sample of ``(pid, rss, cpu_s)`` triples: resident bytes per
    kind and in total (the JVM's unexec'd forks left out of it). Updates
    each process's kind, classified anew each time as spark-class execs
    into the driver JVM (a process that has just ended keeps its kind),
    and its CPU seconds."""
    rss = dict.fromkeys(KINDS, 0)
    total = 0
    for pid, r, c in live:
        kind, fork = classify(pid, root)
        if kind != "other" or pid not in kinds:
            kinds[pid] = kind
        rss[kinds[pid]] += r
        if not fork:
            total += r
        cpu[pid] = c
    return rss, total


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 0
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    cmd = [sys.executable, "-m", "c99_vectordb_spark.cli", *argv]
    kinds: dict[int, str] = {}
    cpu: dict[int, float] = {}
    peak = dict.fromkeys(KINDS, 0)
    peak_total = 0
    stop = threading.Event()
    t0 = time.perf_counter()
    p = subprocess.Popen(
        cmd, env=env, stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE, text=True, start_new_session=True,
    )

    def sample() -> None:
        nonlocal peak_total
        while True:
            live = _session_members(p.pid)
            rss, total = tally(live, p.pid, kinds, cpu)
            for k in KINDS:
                peak[k] = max(peak[k], rss[k])
            peak_total = max(peak_total, total)
            if stop.is_set() and not live:
                return
            time.sleep(SAMPLE_S)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    _, err = p.communicate()
    wall = time.perf_counter() - t0
    stop.set()
    sampler.join(timeout=30)
    if sampler.is_alive():  # a process outlived the verb
        os.killpg(p.pid, signal.SIGKILL)
        sampler.join()
    print(f"{'kind':<16}{'procs':>6}{'cpu_s':>9}{'peak_rss_mb':>13}")
    for k in KINDS:
        pids = [pid for pid, kk in kinds.items() if kk == k]
        if not pids and k == "other":
            continue
        print(f"{k:<16}{len(pids):>6}{sum(cpu[pid] for pid in pids):>9.2f}"
              f"{peak[k] / (1 << 20):>13.0f}")
    print(f"{'total':<16}{len(kinds):>6}{sum(cpu.values()):>9.2f}{peak_total / (1 << 20):>13.0f}")
    print(f"wall {wall:.2f} s, exit code {p.returncode}")
    if p.returncode:
        print(err, file=sys.stderr)
    return p.returncode


if __name__ == "__main__":
    raise SystemExit(main())

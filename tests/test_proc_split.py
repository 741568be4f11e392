"""``tools/proc_split.py`` sorts a session's processes into kinds."""

from __future__ import annotations

import os
import signal
import subprocess
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import proc_split  # noqa: E402

# forks once and sleeps; the parent prints the child's pid
_FORK = (
    "import os, time\n"
    "pid = os.fork()\n"
    "if pid:\n"
    "    print(pid, flush=True)\n"
    "time.sleep(60)\n"
)


@pytest.fixture
def jvm_and_fork():
    """A process with a driver JVM's command line (without Java) and its
    forked, unexec'd child: ``(jvm pid, child pid)``."""
    p = subprocess.Popen(
        ["bash", "-c", 'exec -a java "$1" -c "$2" org.apache.spark.deploy.SparkSubmit',
         "_", sys.executable, _FORK],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        yield p.pid, int(p.stdout.readline())
    finally:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()


def test_forked_child_of_driver_jvm_is_other(jvm_and_fork):
    """A child the driver JVM forked, sampled before its exec, shows the
    JVM's command line; it is ``other``, not a second driver JVM."""
    jvm, child = jvm_and_fork
    root = os.getpid()
    assert proc_split.classify(jvm, root) == ("driver JVM", False)
    assert proc_split.classify(child, root) == ("other", True)


def test_forked_child_of_driver_jvm_stays_out_of_the_total(jvm_and_fork):
    """Such a child shares the JVM's resident pages: it shows under
    ``other`` but does not add to the total."""
    jvm, child = jvm_and_fork
    root = os.getpid()
    kinds, cpu = {}, {}
    rss, total = proc_split.tally(
        [(root, 100, 1.0), (jvm, 400, 2.0), (child, 400, 0.0)], root, kinds, cpu
    )
    assert rss["python driver"] == 100 and rss["driver JVM"] == 400
    assert rss["other"] == 400
    assert total == 500
    assert kinds == {root: "python driver", jvm: "driver JVM", child: "other"}
    assert cpu == {root: 1.0, jvm: 2.0, child: 0.0}

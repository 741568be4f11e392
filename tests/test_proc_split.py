"""``tools/proc_split.py`` sorts a session's processes into kinds."""

from __future__ import annotations

import os
import signal
import subprocess
import sys

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


def test_forked_child_of_driver_jvm_is_other():
    """A child the driver JVM forked, sampled before its exec, shows the
    JVM's command line; it is ``other``, not a second driver JVM. Here
    both processes carry a driver JVM's command line without Java."""
    p = subprocess.Popen(
        ["bash", "-c", 'exec -a java "$1" -c "$2" org.apache.spark.deploy.SparkSubmit',
         "_", sys.executable, _FORK],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        child = int(p.stdout.readline())
        root = os.getpid()
        assert proc_split.kind_of(p.pid, root) == "driver JVM"
        assert proc_split.kind_of(child, root) == "other"
    finally:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()

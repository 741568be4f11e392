"""Run one child process tree to completion, timing it and sampling
the resident memory and CPU time of every process in it (the Python
driver, the JVM it launches and the JVM's Python workers)."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from dataclasses import dataclass

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.05


@dataclass
class Result:
    rc: int
    stdout: str
    stderr: str
    wall_s: float
    peak_rss_bytes: int
    cpu_s: float


def _session_members(sid: int) -> list[tuple[int, int, float]]:
    """(pid, rss bytes, cpu seconds) of every running process in session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields[i] is field i + 3 of proc(5): state 3, session 6,
        # utime 14, stime 15, rss 24. A zombie has ended; only its
        # parent can remove it.
        if int(fields[3]) == sid and fields[0] != "Z":
            cpu = (int(fields[11]) + int(fields[12])) / _TICK
            out.append((int(name), int(fields[21]) * _PAGE, cpu))
    return out


def _reap(sid: int, deadline_s: float = 10.0) -> None:
    """Kill whatever the child left behind in its session and wait
    until none of it is alive."""
    end = time.monotonic() + deadline_s
    while True:
        members = _session_members(sid)
        if not members:
            return
        for pid, *_ in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > end:
            raise RuntimeError(f"processes of session {sid} did not exit: {members}")
        time.sleep(0.05)


def run(argv: list[str], cwd: str, env: dict[str, str], timeout_s: float) -> Result:
    """Run ``argv`` in its own session; wall time runs from spawn until
    every process holding its output pipes has exited."""
    peak = 0
    # last CPU time seen per process; misses at most one sampling
    # interval of each process's life
    cpu: dict[int, float] = {}
    stop = threading.Event()
    t0 = time.perf_counter()
    p = subprocess.Popen(
        argv, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )

    def sample() -> None:
        nonlocal peak
        while not stop.is_set():
            members = _session_members(p.pid)
            peak = max(peak, sum(rss for _, rss, _ in members))
            cpu.update((pid, c) for pid, _, c in members)
            stop.wait(SAMPLE_S)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        out, err = p.communicate(timeout=timeout_s)
        wall = time.perf_counter() - t0
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        wall = time.perf_counter() - t0
        err += f"\n[timed out after {timeout_s:.0f} s]"
    finally:
        stop.set()
        sampler.join()
        _reap(p.pid)
    return Result(p.returncode, out, err, wall, peak, sum(cpu.values()))

"""Process-tree and host probes read from /proc.

The benchmark's child process is a session leader, so its whole tree (the
child, the Spark JVM, the PySpark daemon and its Python workers) shares one
session id. CPU and RSS are summed over that session; leftover processes are
found the same way.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import signal
import threading
import time

HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the parenthesised command name, which may hold spaces
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _session(sid: int):
    """Yield (pid, fields) of every process in session `sid`, zombies
    included; fields[0] is field 3 of /proc/<pid>/stat (the state)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = _stat_fields(pid)
        if fields and int(fields[3]) == sid:
            yield int(pid), fields


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of the session."""
    return [pid for pid, f in _session(sid) if f[0] != "Z"]


def session_cpu_s(sid: int) -> float:
    """utime+stime of the session's live processes plus the cutime+cstime
    they collected from reaped children, in core-seconds."""
    jiffies = sum(sum(int(v) for v in f[11:15]) for _, f in _session(sid))
    return jiffies / HZ


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def session_rss_mb(sid: int) -> float:
    """Resident memory of the session, summed as PSS: a page shared by the
    forked Python workers (or any other processes) counts once in total."""
    return sum(_pss_kb(pid) for pid, f in _session(sid) if f[0] != "Z") / 2**10


class RssSampler:
    """Background sampler of the session's resident memory; `peak_mb` is the
    largest sample seen between start() and stop()."""

    def __init__(self, sid: int, period_s: float = 0.2):
        self.sid = sid
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, session_rss_mb(self.sid))
            if self._stop.wait(self.period_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, session_rss_mb(self.sid))
        return self.peak_mb


def host_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def host_attribution(v0: list[int], v1: list[int], own_cpu_s: float, wall: float) -> dict:
    """Cores lost to hypervisor steal and cores busy outside this process
    tree over an interval, as bench.py records them."""
    wall = max(wall, 1e-9)
    busy = (sum(v1) - v1[3] - v1[4]) - (sum(v0) - v0[3] - v0[4])
    return {
        "host.steal_cores": (v1[7] - v0[7]) / HZ / wall,
        "host.ext_busy_cores": max(0.0, busy / HZ / wall - own_cpu_s / wall),
    }


def _burn(k: int) -> int:
    s = 0
    for i in range(k):
        s += i * i
    return s


def calib_parallel_s(procs: int, loops: int = 1_500_000) -> float:
    """Wall of a fixed CPU burn on `procs` spawned processes (bench.py's
    parallel calibration, shortened)."""
    ctx = mp.get_context("spawn")
    pool = ctx.Pool(procs)
    try:
        pool.map(_burn, [1000] * procs)  # start-up outside the timing
        t0 = time.perf_counter()
        pool.map(_burn, [loops] * procs)
        return time.perf_counter() - t0
    finally:
        pool.close()
        pool.join()


def reap_session(sid: int, grace_s: float) -> list[int]:
    """Wait up to `grace_s` for the session to empty, then SIGKILL what is
    left and wait for it. Returns the pids that had to be killed."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        left = session_pids(sid)
        if not left:
            return []
        time.sleep(0.1)
    killed = session_pids(sid)
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    return killed

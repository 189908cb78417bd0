"""CPU, memory and host-noise readings from /proc.

CPU and memory cover this process and every descendant (the JVM launched
by PySpark and its Python workers), not the VM-wide cgroup root, which
on a shared host counts every other process too.
"""

from __future__ import annotations

import os
import platform
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list:
    """This process and all its live descendants."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (OSError, ValueError, IndexError):
                continue  # exited while we listed it
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including children
    that already exited and were reaped inside the tree."""
    total = 0
    for pid in tree_pids():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])  # utime stime cutime cstime
    return total / _TICK


def tree_pss_mb() -> float:
    """Resident memory of the process tree as the sum of PSS: pages
    shared between processes are split among them, so a forked Python
    worker, or a child the JVM spawns, does not count its parent's pages
    a second time (summed RSS does)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # exited, or a kernel thread without memory
    return total_kb / 1024


class PeakMemory:
    """Samples ``tree_pss_mb`` on a thread, as a context manager;
    ``take()`` returns the highest sample since the previous ``take()``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        mb = tree_pss_mb()
        with self._lock:
            self._peak = max(self._peak, mb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def take(self) -> float:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_ended(pids: list, timeout_s: float) -> None:
    """Wait until every pid has exited; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"  # a zombie has ended
    except OSError:
        return False


def _host_cpu_s(field: int) -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[field]) / _TICK


def steal_s() -> float:
    """VM-wide steal seconds since boot (all CPUs), from /proc/stat."""
    return _host_cpu_s(8)


def iowait_s() -> float:
    """VM-wide I/O-wait seconds since boot (all CPUs), from /proc/stat."""
    return _host_cpu_s(5)


def host_info(path: str) -> dict:
    """Host shape and load, and the filesystem that holds ``path``."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    best = ("", "")
    with open("/proc/mounts") as fh:
        for line in fh:
            dev, mnt, fstype = line.split()[:3]
            if os.path.realpath(path).startswith(mnt.rstrip("/") + "/") and len(mnt) > len(best[0]):
                best = (mnt, f"{fstype} ({dev} on {mnt})")
    return {
        "nproc": os.cpu_count(),
        "mem_total_gib": round(mem_kb / 2**20, 1),
        "loadavg": os.getloadavg(),
        "kernel": platform.release(),
        "fs": best[1],
    }

"""Process-tree CPU and memory, and host-speed diagnostics, read from /proc.

The tree is this Python driver, the Spark JVM it launches and the Python
workers that JVM forks. CPU time includes reaped children (``cutime`` and
``cstime``), so a worker that exits during a repetition is still counted by
the parent that waited for it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def is_running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return bool(fields) and fields[0] != "Z"


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the live tree and its reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:  # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _counted(pid: int) -> bool:
    """The driver, the JVM and the Python workers. A helper the JVM spawns
    (Hadoop's ``chmod``, for one) reports the JVM's own RSS until it execs,
    because it still shares the JVM's address space; it is not counted."""
    comm = _comm(pid)
    return comm == "java" or comm.startswith("python")


#: seconds between two RSS samples, and between two listings of the tree
_SAMPLE_S, _RESCAN_S = 0.1, 0.5


class RssSampler:
    """Samples the summed RSS of the tree every ``_SAMPLE_S`` seconds on a
    background thread and keeps the peak. Summing per-process high-water marks
    instead would add peaks that never coincided."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        #: per-process MiB at the peak, keyed "<pid> <command>"
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _pids(self) -> list[int]:
        return [p for p in tree_pids(self.root) if _counted(p)]

    def _run(self) -> None:
        pids, scanned = self._pids(), time.monotonic()
        while True:
            sizes = {p: _rss_bytes(p) for p in pids}
            if sum(sizes.values()) > self.peak:
                self.peak = sum(sizes.values())
                self.at_peak = {f"{p} {_comm(p)}": b / 2**20 for p, b in sizes.items()}
            if self._stop.wait(_SAMPLE_S):
                return
            if time.monotonic() - scanned > _RESCAN_S:
                pids, scanned = self._pids(), time.monotonic()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def spin_mops(n: int = 2_000_000) -> float:
    """A fixed single-thread integer loop, in million iterations per second.
    A diagnostic of the host window only; no metric is adjusted by it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc ^= i
    return n / (time.perf_counter() - t0) / 1e6


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]; guest
    # time is already inside user and nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])

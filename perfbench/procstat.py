"""Process-tree CPU and memory from ``/proc`` (psutil is not available).

A Spark session in local mode is one JVM, started by the driver's Python
process, plus a Python daemon under the JVM that forks the workers. The
benchmark measures that subtree: every descendant of the driver process.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:          # the process ended between listing and reading
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _table() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) of every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            comm = raw[raw.index("(") + 1:raw.rindex(")")]
            table[int(entry)] = (int(raw[raw.rindex(")") + 2:].split()[1]), comm)
    return table


def descendants(root: int, table: dict[int, tuple[int, str]] | None = None) -> list[int]:
    """All live processes below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in (table or _table()).items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of every process below ``root``, including reaped
    children (cutime/cstime), so exited Python workers still count."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    table = _table()
    total = 0
    for pid in descendants(root, table):
        ppid, comm = table[pid]
        if comm == "java" and table.get(ppid, (0, ""))[1] == "java":
            # The JVM starts a process (the Python daemon, Hadoop's shell
            # helpers) by vfork-style spawn: until the child execs, it shares
            # the JVM's memory and reports the JVM's whole RSS as its own.
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_times() -> tuple[int, int]:
    """Machine-wide (steal, total) jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        values = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return values[7], sum(values[:8])


class PeakRss:
    """Samples the subtree's total RSS on a thread; ``peak_bytes`` is the max."""

    def __init__(self, root: int, period_s: float = 0.05) -> None:
        self.root = root
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Steal:
    """Share of machine CPU time stolen by the hypervisor over a ``with`` block."""

    def __enter__(self) -> "Steal":
        self._start = cpu_times()
        self.share = 0.0
        return self

    def __exit__(self, *exc) -> None:
        steal, total = cpu_times()
        d_total = total - self._start[1]
        self.share = (steal - self._start[0]) / d_total if d_total else 0.0

"""Process-tree CPU and RSS from ``/proc`` (no psutil).

The tree is this process and every descendant: the Spark JVM that the
driver launches, the pyspark daemon and its Python workers. CPU counts
utime+stime+cutime+cstime, so workers that exited and were reaped by a
process in the tree still count through their parent's c-times.
"""

from __future__ import annotations

import os
import threading
import time

from burn import _burn  # tools/burn.py, on the path that run.py sets

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# RSS sampling period of RssPeak
RSS_PERIOD_S = 0.1
# iterations of the idle probe's burn: ~0.35 s on one idle core
PROBE_N = 3_000_000


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[int, list[str]]:
    """Fields of ``/proc/<pid>/stat`` (from the state field on) for this
    process and its descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the tree, including reaped children."""
    tree = _tree()
    # utime, stime, cutime, cstime are stat fields 14-17; index 0 here is 3
    ticks = sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in tree.values())
    return ticks / _TICK


def tree_rss_bytes() -> int:
    """Summed RSS of the tree. A child spawned with a shared address space
    (posix_spawn's vfork, before exec) reports its parent's RSS; counting it
    would double the JVM for that instant. Such a child is skipped when its
    virtual size equals its parent's: the two are not read at the same
    instant, and the parent's RSS moves in between far more often than its
    virtual size. A child just forked, not yet written to, also matches;
    its pages are still the parent's."""
    tree = _tree()
    pages = 0
    for f in tree.values():
        parent = tree.get(int(f[1]))
        # vsize and rss are stat fields 23 and 24
        if parent is not None and parent[20] == f[20]:
            continue
        pages += int(f[21])
    return pages * _PAGE


def tree_pids() -> list[int]:
    return sorted(_tree())


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper is not."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def process_age_s() -> float:
    """Seconds since this process started, at the kernel's tick resolution."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


class RssPeak:
    """Samples the tree's summed RSS on a background thread; ``peak`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(RSS_PERIOD_S):
                return

    def __enter__(self) -> "RssPeak":
        self.peak = tree_rss_bytes()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


def idle_probe_s() -> float:
    """Wall time of tools/burn.py's single-core integer burn at ``PROBE_N``
    iterations: it moves only with CPU contention from outside the benchmark."""
    t0 = time.perf_counter()
    _burn(PROBE_N)
    return time.perf_counter() - t0

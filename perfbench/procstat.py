"""CPU and memory of a process tree, read from ``/proc``.

``tree_cpu`` sums user+sys over a process and all its descendants,
including the time of children they already reaped (``cutime`` and
``cstime``), so a Python worker that exits inside a window still
counts.  ``RssSampler`` polls the tree's summed resident set size on a
background thread and keeps the peak.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as fh:
                stat = fh.read()
        except OSError:  # exited while we listed /proc
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids() -> List[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open("/proc/%d/stat" % pid) as fh:
            stat = fh.read()
    except OSError:
        return None
    # fields after "comm)": state is index 0, utime index 11
    return stat[stat.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open("/proc/%d/cmdline" % pid, "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def tree_cpu() -> Dict[str, float]:
    """CPU seconds of the tree, split by role: ``driver`` (this
    process), ``jvm`` (java processes), ``python_workers`` (pyspark
    daemon and workers) and ``total``."""
    root = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "total": 0.0}
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is None:
            continue
        secs = sum(int(x) for x in f[11:15]) / _TICK
        if pid == root:
            role = "driver"
        elif "java" in os.path.basename(_cmdline(pid).split(" ")[0]):
            role = "jvm"
        else:
            role = "python_workers"
        out[role] += secs
        out["total"] += secs
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21]) * _PAGE
    return total


class RssSampler:
    """Peak summed RSS of the tree while the ``with`` block runs."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self.peak = tree_rss_bytes()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())

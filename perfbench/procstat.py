"""CPU and memory of this process's tree, read from /proc.

The tree is the harness itself, the Spark JVM it launches, the PySpark
daemon and its Python workers. CPU counts user+sys of every live member plus
what reaped children left in their parents' cutime/cstime; RSS is summed over
live members.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def tree_cpu_s() -> float:
    total = 0
    for p in tree_pids():
        f = _stat_fields(p)
        if f is not None:
            # fields 14-17 of stat: utime stime cutime cstime (0-based 11..14
            # after the pid and comm are cut off)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mib() -> float:
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / (1 << 20)


class PeakRss:
    """Background sampler of the tree's summed RSS; ``freeze()`` stops the
    peak from moving, so it can be read at a fixed op count."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mib = 0.0
        self._frozen = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        if not self._frozen:
            self.peak_mib = max(self.peak_mib, tree_rss_mib())

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def freeze(self) -> float:
        self.sample()
        self._frozen = True
        return self.peak_mib

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

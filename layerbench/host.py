"""Host hygiene and resource sampling, read from /proc.

- ``other_jvms()``: live JVMs that are not ours. Another JVM on the host
  inflated single queries 3-30x in earlier measurements, so a run
  records them and flags its numbers as contended.
- ``RssSampler``: peak resident memory of this process and every
  descendant (the JVM started by PySpark and its Python workers).
- ``tree_cpu_s()``: CPU seconds (user + system) this process and every
  descendant have used, reaped children included.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int, str, int]]:
    """pid -> (ppid, rss_bytes, comm, cpu_ticks) for every readable
    process; cpu_ticks counts its own and its reaped children's user
    and system time."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        lpar, rpar = raw.find("("), raw.rfind(")")
        rest = raw[rpar + 2:].split()
        # fields after the command: state ppid ...; utime, stime,
        # cutime, cstime are fields 14-17 and rss is field 24
        out[int(name)] = (int(rest[1]), int(rest[21]) * _PAGE,
                          raw[lpar + 1:rpar],
                          sum(int(x) for x in rest[11:15]))
    return out


def descendants(root: int, procs=None) -> set[int]:
    procs = _procs() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = {root}, [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            if c not in seen:
                seen.add(c)
                todo.append(c)
    return seen


def tree_rss(root: int | None = None) -> int:
    procs = _procs()
    root = os.getpid() if root is None else root
    return sum(procs[p][1] for p in descendants(root, procs) if p in procs)


def other_jvms() -> list[int]:
    procs = _procs()
    mine = descendants(os.getpid(), procs)
    return sorted(p for p, (_pp, _rss, comm, _cpu) in procs.items()
                  if comm == "java" and p not in mine)


def tree_cpu_s(root: int | None = None) -> float:
    procs = _procs()
    root = os.getpid() if root is None else root
    return sum(procs[p][3] for p in descendants(root, procs)
               if p in procs) / _TICK


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(since: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``since``: a host-contention flag for the run's numbers."""
    now = cpu_times()
    d = [b - a for a, b in zip(since, now)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


class RssSampler:
    """Polls the process tree's summed RSS every ``interval`` seconds
    on a daemon thread; ``stop()`` joins it and returns the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = tree_rss()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss())

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss())
        return self.peak

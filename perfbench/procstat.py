"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree is the benchmark's Python driver, the JVM it launches and the
JVM's Python workers.  ``psutil`` is not available, so the sampler reads
``/proc/<pid>/stat`` for parent links and ``/proc/<pid>/smaps_rollup``
for each process's proportional set size (PSS): resident pages, with a
page shared by N processes counted 1/N in each.  Python workers fork from
one daemon and share most of their pages, so a plain RSS sum would count
those pages once per live worker.
"""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # ended, or a kernel thread without an address space
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    return sum(pss_bytes(pid) for pid in tree_pids(root))


class PeakRss:
    """Background sampler; ``stop()`` returns the peak tree PSS in MB."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(self.root))
        return self.peak / 2**20

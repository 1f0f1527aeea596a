"""Process-tree memory sampling and host CPU steal from ``/proc`` (no psutil)."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.5  # seconds between two samples of the process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over all CPUs: its growth during a run shows a contended host."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss(root: int) -> dict[str, list[int]]:
    """Proportional set size of ``root`` and its descendants, as
    ``{command name: [processes, bytes]}``. PSS splits each shared page
    among the processes that map it, so Python workers forked from one
    daemon are not counted once per fork. The JVM shares almost no pages
    and its ``smaps_rollup`` takes about 20 ms to read, so its RSS stands
    in for its PSS (they differ by under 1 %)."""
    out: dict[str, list[int]] = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                comm = fh.read().split("(", 1)[1].rsplit(")", 1)[0]
            if comm == "java":
                with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                    size = int(fh.read().split()[1]) * _PAGE
            else:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    size = 1024 * next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, IndexError, StopIteration):
            continue  # the process ended while we read it
        entry = out.setdefault(comm, [0, 0])
        entry[0] += 1
        entry[1] += size
    return out


class PeakPss:
    """Background sampler of the summed PSS of this process and all its
    descendants (the Spark JVM and its Python workers)."""

    def __init__(self):
        self.peak_bytes = 0
        self.at_peak: dict[str, list[int]] = {}  # tree_pss at the peak
        self.sampling_s = 0.0  # time the sampler itself spent reading /proc
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            t0 = time.perf_counter()
            by_comm = tree_pss(root)
            self.sampling_s += time.perf_counter() - t0
            total = sum(b for _, b in by_comm.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.at_peak = total, by_comm
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

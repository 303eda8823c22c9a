"""Peak resident memory of the driver JVM and its Python workers,
sampled from ``/proc``.

Python workers are forked from one daemon and share most of their
pages, so summing their plain RSS would count those pages once per
worker alive at the sampling instant; they are counted by PSS
(proportional set size), which splits a shared page among its sharers.
The JVM shares next to nothing, and reading its PSS walks its whole
page table under the address-space lock (tens of milliseconds for a
2 GB heap, stalling the JVM's own mappings), so it is counted by RSS.
Short-lived helpers the JVM forks (a shell, or a child that has not yet
called exec and so still maps the whole heap) are left out."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed it
            continue
        # the command name is in parentheses and may hold spaces
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _resident_bytes(pid: int) -> tuple[str, int]:
    """(command name, resident bytes) of one process."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
        if comm == "java":
            with open(f"/proc/{pid}/statm") as statm:
                return comm, int(statm.read().split()[1]) * _PAGE
        if not comm.startswith("python"):
            return comm, 0
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return comm, int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):  # the process ended meanwhile
        pass
    return "", 0


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_resident_bytes(root: int) -> dict[str, int]:
    """Resident memory of the JVM and Python descendants of ``root``,
    summed by command name."""
    out: dict[str, int] = {}
    for pid in descendants(root):
        comm, nbytes = _resident_bytes(pid)
        if nbytes:
            out[comm] = out.get(comm, 0) + nbytes
    return out


class PeakRss:
    """Samples the resident memory of this process's descendants (the
    driver JVM and the Python workers it starts) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            parts = tree_resident_bytes(root)
            if sum(parts.values()) > self.peak_bytes:
                self.peak_bytes = sum(parts.values())
                self.peak_parts = parts
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        self._thread.join()
        return False

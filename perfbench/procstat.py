"""Memory and CPU of a process tree, sampled from ``/proc`` (no psutil)."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2 :].split()
    # fields[0] is state, then ppid ...; utime and stime per proc(5). A
    # reaped child's time is left out: it would be counted twice, once in
    # its own last sample and once in its parent's cutime.
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    return int(fields[1]), cpu


def _memory_bytes(pid: int) -> int:
    """Proportional set size of a Python process: pages shared between
    forked workers are split among them, so the tree's sum is the memory it
    really holds. The JVM forks nothing, so its resident size is read from
    ``statm`` instead: ``smaps_rollup`` walks the whole address space under
    the process's memory-map lock, tens of milliseconds for the JVM."""
    try:
        with open(f"/proc/{pid}/comm", "rb") as fh:
            is_jvm = fh.read().strip() == b"java"
        if is_jvm:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                return int(fh.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler:
    """Samples the descendants of ``root`` (the root included) from a
    background thread: peak summed PSS, and CPU seconds per process."""

    def __init__(self, root: int, interval_s: float) -> None:
        self.root = root
        self.interval_s = interval_s
        self.seen: set[int] = {root}
        self.peak_pss = 0
        self._cpu: dict[int, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while True:
            pids = self._tree()
            pss = sum(_memory_bytes(p) for p in pids)
            with self._lock:
                self.peak_pss = max(self.peak_pss, pss)
            self._refresh_cpu(pids)
            if self._stop.wait(self.interval_s):
                return

    def _tree(self) -> list[int]:
        parents: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    parents[int(name)] = st[0]
        members = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parents.items():
                if ppid in members and pid not in members:
                    members.add(pid)
                    grew = True
        return [p for p in members if p in parents]

    def _refresh_cpu(self, pids: list[int]) -> None:
        with self._lock:
            self.seen.update(pids)
            for p in pids:
                st = _stat(p)
                if st is not None:
                    self._cpu[p] = st[1]

    def cpu_s(self) -> float:
        """CPU seconds of every member seen, live ones read now."""
        self._refresh_cpu(self._tree())
        with self._lock:
            return sum(self._cpu.values())

    def alive(self, marker: bytes) -> list[int]:
        """Members still running. A pid counts only while its environment
        holds ``marker``, so a recycled pid is never mistaken for one."""
        out = []
        for p in list(self.seen):
            try:
                with open(f"/proc/{p}/environ", "rb") as fh:
                    if marker in fh.read():
                        out.append(p)
            except OSError:
                pass
        return out

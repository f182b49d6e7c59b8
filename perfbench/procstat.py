"""CPU time and resident memory of this process's tree, read from
``/proc``: the Python driver, the JVM it launched and the JVM's Python
workers."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after its ')' splits cleanly
    return raw[raw.rfind(")") + 2:].split()


def tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def cpu_seconds() -> float:
    """user+system time of the live tree plus its reaped children, so a
    worker that exits between two readings is not lost."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background thread tracking the peak resident size of the tree."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak = rss_bytes()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

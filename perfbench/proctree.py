"""CPU time and memory of this process and every process it
started (the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after its ')'
    return raw[raw.rfind(")") + 2:].split()


def tree() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """User+system CPU of the tree, including reaped children (a
    worker that exits is charged to the parent that waited for it)."""
    total = 0
    for pid in tree():
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime: fields 14-17 of stat(5)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def pss_bytes(pids: list[int]) -> int:
    """Proportional set size: a page shared by k processes (forked
    Python workers) counts 1/k to each, so the sum is not inflated."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemory:
    """Samples the tree's summed PSS every `interval` seconds while
    `active` is set; `peak` is the largest sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids: list[int] = []
        last_scan = 0.0
        while not self._stop.wait(self.interval):
            if not self.active.is_set():
                continue
            now = time.monotonic()
            if now - last_scan > 1.0:     # workers come and go
                pids, last_scan = tree(), now
            self.peak = max(self.peak, pss_bytes(pids))

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left after
    `timeout` and wait again."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if p != os.getpid()]
    while alive:
        alive = [p for p in alive if _stat(p) is not None and _stat(p)[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
            timeout = 5.0
        time.sleep(0.1)

"""Process-tree memory sampling and shutdown, from /proc (psutil is not
installed).

The tree is the driver JVM the session launched plus everything it forked
(the PySpark daemon and its Python workers)."""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, Iterable, List, Set

def _ppids() -> Dict[int, int]:
    out: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces or parentheses: split after the last ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def tree(root: int) -> List[int]:
    """``root`` and all of its live descendants."""
    children: Dict[int, List[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pss_bytes(pids: Iterable[int]) -> int:
    """Summed proportional set size: RSS with each shared page split
    among the processes mapping it, so forked workers' shared pages are
    not counted once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited between listing and reading
    return total


class RssSampler:
    """Peak summed RSS (as PSS) of a process tree while the sampler runs.

    Reading a JVM's smaps_rollup costs ~15 ms of CPU, so the interval is
    kept coarse enough not to slow the process it measures."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.seen: Set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            pids = tree(self.root)
            self.seen.update(pids)
            self.peak = max(self.peak, pss_bytes(pids))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def wait_gone(pids: Iterable[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``timeout_s``."""
    pids = [p for p in pids if p != os.getpid()]
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        pids = [p for p in pids if alive(p)]
        if not pids:
            return
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)

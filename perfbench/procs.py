"""The benchmark's process tree: the driver (this process), the JVM it
launches and the JVM's Python workers. Samples their summed PSS, and at
the end stops them and waits until every one has exited."""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, starttime) of a running process; None once it has exited
    (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return None if rest[0] == "Z" else (int(rest[1]), int(rest[19]))
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> dict[int, int]:
    """{pid: starttime} of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    start: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(st[0], []).append(int(name))
                start[int(name)] = st[1]
    out, todo = {}, list(children.get(root, []))
    while todo:
        p = todo.pop()
        out[p] = start[p]
        todo.extend(children.get(p, []))
    return out


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used by ``pid`` and by the exited
    children it has reaped; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return sum(int(v) for v in rest[11:15]) / CLK_TCK
    except (OSError, IndexError, ValueError):
        return 0.0


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Tree:
    """Background sampler of the tree's summed PSS; remembers every
    process it has seen so :meth:`stop` can wait for all of them."""

    def __init__(self, period_s: float = 1.0):
        self.root = os.getpid()
        self.seen: dict[int, int] = {}
        self.peak_kb = 0
        self._period = period_s
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        procs = descendants(self.root)
        self.seen.update(procs)
        total = pss_kb(self.root) + sum(pss_kb(p) for p in procs)
        self.peak_kb = max(self.peak_kb, total)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the whole tree. Unlike wall time it
        does not count time the host gave the vCPUs to other guests."""
        return cpu_s(self.root) + sum(cpu_s(p) for p in descendants(self.root))

    def _run(self) -> None:
        while not self._halt.wait(self._period):
            self.sample()

    def stop(self, timeout_s: float = 30.0) -> None:
        """Stop sampling, then wait for every process ever seen below us;
        SIGKILL what is still alive at the deadline."""
        self._halt.set()
        self._thread.join()
        self.seen.update(descendants(self.root))
        deadline = time.monotonic() + timeout_s
        killed = False
        while True:
            alive = [p for p, st in self.seen.items()
                     if (_stat(p) or (0, None))[1] == st]
            if not alive:
                return
            if time.monotonic() > deadline:
                if killed:
                    raise RuntimeError(f"processes {alive} did not exit")
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                killed = True
                deadline = time.monotonic() + 5
            for p in alive:
                try:
                    os.waitpid(p, os.WNOHANG)      # reap our own children
                except ChildProcessError:
                    pass
            time.sleep(0.1)

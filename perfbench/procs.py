"""The benchmark's process tree: a peak-memory sampler over the driver,
the JVM and the Python workers, and a wait for every process it saw to
end."""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields from the state on (state, ppid, ...)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # exited
        return None
    # the command name may hold spaces and parentheses
    return stat[stat.rindex(")") + 2:].split()


def _start_time(pid: int) -> str | None:
    fields = _stat(pid)
    return fields[19] if fields and fields[0] != "Z" else None


def descendants(root: int) -> list[int]:
    parents = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                parents[int(name)] = int(fields[1])
    tree, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parents.items() if pp == pid]
        tree.extend(kids)
        frontier.extend(kids)
    return tree


def _pss_bytes(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n
    in each, so forked Python workers and their parent add up to what
    they hold together."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited
        pass
    return 0


class ProcessTree:
    """Samples the summed PSS of this process and all its descendants
    every ``interval_s`` on one thread, and remembers every descendant it
    saw (a Python worker outlives its parent JVM by a moment and is then
    no longer a descendant)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.seen: dict[int, str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-pss", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        kids = descendants(me)
        total = sum(_pss_bytes(p) for p in [me, *kids])
        with self._lock:
            self.peak = max(self.peak, total)
            for pid in kids:
                if pid not in self.seen:
                    st = _start_time(pid)
                    if st is not None:
                        self.seen[pid] = st

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "ProcessTree":
        self._thread.start()
        return self

    def peak_mb(self) -> float:
        return self.peak / (1 << 20)

    def stop_sampling(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def _alive(self) -> list[int]:
        return [p for p, st in self.seen.items() if _start_time(p) == st]

    def wait_all_gone(self, timeout_s: float) -> list[int]:
        """Wait until every process seen has ended; SIGKILL the ones
        still running at the timeout and return them."""
        deadline = time.monotonic() + timeout_s
        alive = self._alive()
        while alive and time.monotonic() < deadline:
            time.sleep(0.2)
            alive = self._alive()
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        return alive

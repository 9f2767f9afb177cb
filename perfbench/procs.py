"""Process-tree accounting from /proc: peak summed RSS of the benchmark,
its JVM and the JVM's Python workers, and the wait for all of them to
end."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces and parentheses: ppid is
        # the second field after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class TreeRss(threading.Thread):
    """Samples the summed RSS of this process and its descendants."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(name="perfbench-rss", daemon=True)
        self.period_s = period_s
        self.peak_kib = 0
        self.seen: set[int] = set()
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        self.seen.update(tree)
        total = sum(_rss_kib(p) for p in [me] + tree)
        self.peak_kib = max(self.peak_kib, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def wait_gone(pids, timeout_s: float = 30.0) -> None:
    """Wait until every pid has ended; SIGKILL what is left at the
    deadline and wait again."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while any(_alive(p) for p in left):
        time.sleep(0.1)

"""Process and machine probes read from /proc: busy CPU, steal, and the
summed RSS of a process tree sampled on a background thread."""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole box since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    v = [int(x) for x in fields]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return (user + nice + system + irq + softirq) / _CLK, steal / _CLK


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and every process below it,
    including their children that have already been reaped."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 1e6


class RssSampler:
    """Peak summed RSS of this process's tree while running."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> RssSampler:
        self.peak_mb = tree_rss_mb(os.getpid())
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                size += os.path.getsize(os.path.join(dirpath, name))
                n += 1
            except OSError:
                continue
    return n, size


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until every process this one started has ended; kill what
    is left after ``timeout_s``."""
    import signal

    deadline = time.time() + timeout_s
    killed = False
    while True:
        rest = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            if killed:
                return
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
            deadline = time.time() + 5.0
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)

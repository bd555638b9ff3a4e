"""Process-tree memory sampling and CPU steal, read from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")
#: seconds between background memory samples
SAMPLE_INTERVAL_S = 0.2


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; fields resume after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) on a background thread. ``restart``
    opens a window and ``window_peak_mb`` is the largest sum seen in it;
    both also take a sample on the spot, so short windows are covered."""

    def __init__(self):
        self.peak = 0
        self._root = os.getpid()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(self._root)
        with self._lock:
            self.peak = max(self.peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def restart(self) -> None:
        with self._lock:
            self.peak = 0
        self._sample()

    def window_peak_mb(self) -> float:
        self._sample()
        with self._lock:
            return self.peak / 2**20

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_seconds() -> float:
    """Machine-wide CPU steal so far (the 8th field of /proc/stat's cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0

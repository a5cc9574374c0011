"""Machine sizing and process-tree memory sampling (Linux /proc)."""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def available_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / (1024 * 1024)
    return 0.0


def jvm_heap(avail_gb: float) -> str:
    """JVM heap for SPARK_DRIVER_MEM: a quarter of available memory,
    1 to 4 GB. The JVM's off-heap, the Python workers and the rest of the
    machine need the remainder."""
    return f"{max(1, min(4, int(avail_gb // 4)))}g"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root_pid: int) -> list[int]:
    """`root_pid` and all its descendants."""
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass  # exited since the tree was listed
    return total * os.sysconf("SC_PAGE_SIZE")


class PeakRss:
    """Samples the resident memory of this process tree while active.

    `with PeakRss() as p: ...` keeps `p.peak_bytes`, the largest sum seen
    across samples taken every `period_s` inside the block. The tree is
    re-listed every `relist_s` (Spark starts Python workers on demand)."""

    def __init__(self, period_s: float = 0.05, relist_s: float = 1.0) -> None:
        self.period_s = period_s
        self.relist_s = relist_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pids, listed = tree_pids(os.getpid()), time.monotonic()
        while not self._stop.wait(self.period_s):
            if time.monotonic() - listed >= self.relist_s:
                pids, listed = tree_pids(os.getpid()), time.monotonic()
            self.peak_bytes = max(self.peak_bytes, rss_bytes(pids))

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self.peak_bytes = rss_bytes(tree_pids(os.getpid()))
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes of all files) under `path`. Data files exclude
    hidden and underscore-prefixed entries (checksums, markers, logs)."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += not n.startswith((".", "_"))
    return files, size

"""Peak resident memory of a process tree, sampled from ``/proc``.

The benchmark's own process, its phase children, their JVMs, the
JVMs' Python workers and the serve subprocess all descend from the
benchmark's pid; a background thread sums their RSS every ``interval``
seconds and keeps the peak of the whole tree and of the Python worker
processes (``pyspark.daemon`` / ``pyspark.worker``) alone.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


def _stat_ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the comm field may hold spaces and parentheses: split after the
    # LAST ')' (field 4 of stat is the parent pid)
    return int(raw[raw.rindex(b")") + 2 :].split()[1])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _kind(pid: int) -> str:
    """"python_workers" (Spark's Python workers), "jvm" or "other"."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "other"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "python_workers"
    return "jvm" if cmd.split(b"\0", 1)[0].endswith(b"java") else "other"


def tree(root: int) -> dict[int, int]:
    """{pid: parent pid} of ``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            ppid = _stat_ppid(entry)
            if ppid is not None:
                children.setdefault(ppid, []).append(int(entry))
    out, todo = {root: 0}, [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, ()):
            out[child] = pid
            todo.append(child)
    return out


class PeakRss:
    """Context manager sampling this process's tree until exit."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self.peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self.at_peak: dict[str, float] = {}  # MB per process kind at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._kinds: dict[int, str] = {}

    def sample(self) -> None:
        by_kind = {"jvm": 0.0, "python_workers": 0.0, "other": 0.0}
        pids = tree(self.root)
        kinds = {}
        for pid in pids:
            # "other" may still exec into a JVM (spark-submit is a shell
            # script), so only a settled kind is remembered
            kinds[pid] = self._kinds.get(pid) or _kind(pid)
            if kinds[pid] != "other":
                self._kinds[pid] = kinds[pid]
        for pid, ppid in pids.items():
            # a JVM's child that is still a JVM is a process it is
            # spawning (vfork, before exec): it shares the parent's pages
            if kinds[pid] == "jvm" and kinds.get(ppid) == "jvm":
                continue
            by_kind[kinds[pid]] += _rss_bytes(pid) / MB
        total = sum(by_kind.values())
        if total > self.peak_mb:
            self.peak_mb, self.at_peak = total, by_kind
        self.workers_peak_mb = max(self.workers_peak_mb, by_kind["python_workers"])

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> PeakRss:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

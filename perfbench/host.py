"""Host record and process-tree peak RSS for the CDC lake benchmark."""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import sys
import threading


def source_digest(root: str) -> str:
    """sha256 over the engine's sources (path + bytes, sorted), so a
    record stays tied to the code it measured even where the checkout
    is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "etl_spark")
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def commit_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def host_record(root: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    cpus = sorted(os.sched_getaffinity(0))
    return {
        "nproc": len(cpus),
        "cpu_count": os.cpu_count(),
        "affinity_mask": hex(sum(1 << c for c in cpus)),
        "disk_free_bytes": shutil.disk_usage(root).free,
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "platform": platform.platform(),
        "commit": commit_sha(root),
        "source_digest": source_digest(root),
        "argv": sys.argv[1:],
    }


def _meminfo_kb(key: str) -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we listed
        # the comm field may hold spaces and parens: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _kind(pid: int) -> str:
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read().replace(b"\0", b" ")
    except OSError:
        return "other"
    if b"java" in cmd.split(b" ", 1)[0]:
        return "jvm"
    if b"pyspark" in cmd:
        return "python_workers"
    return "other"


class PeakRss:
    """Polls the process tree under this process (driver Python, the
    JVM, Python workers) and keeps each process's peak resident set
    (VmHWM). ``peak_mb`` sums those peaks over every process seen."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peaks_kb: dict[int, int] = {}
        self.kinds: dict[int, str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children = _children_map()
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            hwm = _hwm_kb(pid)
            if hwm is None:
                continue
            with self._lock:
                if pid not in self.kinds:
                    self.kinds[pid] = _kind(pid)
                if hwm > self.peaks_kb.get(pid, 0):
                    self.peaks_kb[pid] = hwm

    def peak_mb(self) -> float:
        with self._lock:
            return sum(self.peaks_kb.values()) / 1024.0

    def by_process(self) -> dict[str, float]:
        """Peak MB per process kind: the driver, the JVM, Python workers."""
        out: dict[str, float] = {}
        with self._lock:
            for pid, kb in self.peaks_kb.items():
                kind = self.kinds.get(pid, "other")
                out[kind] = out.get(kind, 0.0) + kb / 1024.0
        return out

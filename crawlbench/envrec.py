"""Per-run environment and noise record, the peak-memory sampler for the
driver process tree, and the on-disk byte census of a checkpoint store.

All readings come from ``/proc`` and the file system, so nothing here needs
a package the host may lack.
"""

from __future__ import annotations

import os
import subprocess
import threading


def steal_jiffies() -> int:
    """Hypervisor steal summed over all CPUs (``/proc/stat`` field 8)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def git_sha(root: str) -> str | None:
    """HEAD of the checkout when it is a git repository, else None."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def environment(root: str) -> dict:
    """What to compare before trusting two runs against each other."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total_kb(),
        "loadavg_before": os.getloadavg(),
        "steal_jiffies_before": steal_jiffies(),
        "git_sha": git_sha(root),
        "acrawler_env": {k: v for k, v in os.environ.items() if k.startswith("ACRAWLER_")},
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each page shared by n
    processes counted 1/n times. Summing plain RSS over the tree would count
    the pages a forked Python worker shares with its parent once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes (PSS) of a process and all its descendants: the
    Python driver, the JVM and the Python workers."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the driver tree's resident bytes on a thread; ``peak`` is the
    maximum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


def store_census(root: str) -> dict[str, int]:
    """Bytes on disk per top-level entry of a checkpoint store (one per
    table, plus the manifest)."""
    out = {}
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        out[name.lstrip("_")] = dir_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
    return out

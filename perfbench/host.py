"""Process-tree CPU and memory from /proc, and the host facts a later
comparison depends on.

The tree is this process plus every descendant: the local-mode JVM and
the Python worker daemon with its forked workers. CPU counts each live
process's utime+stime plus the cutime+cstime of children it has reaped,
so a worker that exits mid-pass still counts once it is waited for.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
            rest = s[s.rindex(")") + 2:].split()
            ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))
            out[int(name)] = (int(rest[1]), ticks, int(rest[21]))
        except (OSError, ValueError, IndexError):
            continue  # raced a process exit
    return out


def _tree(table: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    stack, seen = [os.getpid()], []
    while stack:
        p = stack.pop()
        if p in table and p not in seen:
            seen.append(p)
            stack.extend(kids.get(p, []))
    return seen


def tree_cpu_s() -> float:
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table)) / _TICK


def tree_rss_mb() -> float:
    table = _proc_table()
    return sum(table[p][2] for p in _tree(table)) * _PAGE / (1 << 20)


class RssSampler:
    """Background sampler of process-tree RSS every 0.1 s; ``peak_mb`` is
    the largest sum seen since the caller last reset it. Use as a context
    manager so the thread always stops."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(0.1)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_kib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def java_version() -> str:
    try:
        r = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (r.stderr or r.stdout).splitlines()
    return lines[0] if lines else "unknown"


def git_head(root: str) -> str:
    """The checkout's commit when it is a git repository, else "none"
    (benchmark checkouts are plain file trees)."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return "none"
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return r.stdout.strip() if r.returncode == 0 else "none"


def facts(root: str) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kib": mem_total_kib(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version(),
        "git_head": git_head(root),
    }

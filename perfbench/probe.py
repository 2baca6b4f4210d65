"""Process-tree and host probes read from /proc (Linux).

The benchmark process runs the Spark session; its tree holds the JVM and,
under the JVM, the PySpark daemon and its forked Python workers.
``TreeSampler`` polls that tree on a thread to find the peak resident
memory of the whole tree and of the Python workers; ``tree_cpu`` sums CPU
seconds per role, counting the reaped children of each live process
(``cutime``/``cstime``) so that workers which exited are not lost.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the comm field may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Live pids under ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def role(pid: int) -> str:
    """'jvm', 'python' (daemon or worker) or 'other'."""
    cmd = _cmdline(pid)
    if "java" in cmd.split(" ", 1)[0]:
        return "jvm"
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd or \
            "python" in cmd.split(" ", 1)[0]:
        return "python"
    return "other"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds (user+sys, own + reaped children) per role under root."""
    out = {"jvm": 0.0, "python": 0.0, "other": 0.0}
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat = utime stime cutime cstime
            ticks = sum(int(x) for x in st[11:15])
            out[role(pid)] += ticks / _TICK
    return out


class TreeSampler:
    """Peak RSS of the process tree (root included) and, per role, of the
    benchmark process, the JVM and the Python workers, polled every
    ``interval`` seconds on a daemon thread."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root = root
        self.interval = interval
        self.peak_tree = 0
        self.peak = {"jvm": 0, "python": 0, "other": 0, "bench": 0}
        self._roles: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        by_role = {"jvm": 0, "python": 0, "other": 0,
                    "bench": _rss_bytes(self.root)}
        for pid in descendants(self.root):
            r = self._roles.get(pid)
            if r is None:
                r = self._roles[pid] = role(pid)
            by_role[r] += _rss_bytes(pid)
        self.peak_tree = max(self.peak_tree, sum(by_role.values()))
        for r, rss in by_role.items():
            self.peak[r] = max(self.peak[r], rss)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def host_info() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpus": os.cpu_count(),
            "cpus_usable": len(os.sched_getaffinity(0)),
            "loadavg_1m": load[0], "loadavg_5m": load[1]}


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Pids from ``pids`` still alive after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"

"""Host and process-tree readings from /proc: CPU seconds and resident
memory of a process tree, host steal time and load average."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # process ended between listing and reading
        return None
    # the command name may hold spaces: fields start after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) members of process session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None and int(f[3]) == sid and f[0] != "Z":
                out.append(int(name))
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children
    (so short-lived Python workers forked and reaped inside the tree
    are still counted)."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident set size per command name (``java``, ``python3``, ...)
    over the tree's engine processes: the driver's Python, the JVM and
    its Python workers. Shared pages count once per process. Helpers the
    JVM spawns (Hadoop's ``bash``/``readlink``) are left out: until they
    exec they share the JVM's memory and carry the name of the JVM
    thread that spawned them, so a sample could count the JVM twice."""
    out: dict[str, float] = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            if name != "java" and not name.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # process ended between listing and reading
            continue
        out[name] = out.get(name, 0.0) + pages * _PAGE / 2**20
    return out


def steal_s() -> float:
    """Host steal time so far, summed over CPUs, in seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RssPeak:
    """Samples the tree's RSS on a background thread while active;
    ``peak_mb`` is the largest total seen and ``peak_by_name`` its split
    by command name."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_name: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        by_name = tree_rss_mb(self.root)
        if sum(by_name.values()) > self.peak_mb:
            self.peak_mb, self.peak_by_name = sum(by_name.values()), by_name

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssPeak":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

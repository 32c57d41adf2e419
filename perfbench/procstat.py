"""Process-tree CPU and RSS, and host-noise annotations, read from
``/proc`` (Linux only).

The tree is this benchmark process and every descendant: the Spark
driver JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    """The command name, then the fields after it."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may contain spaces and parentheses: split at the last ')'
    head, _, rest = data.rpartition(")")
    return [head.partition("(")[2], *rest.split()]


def _tree(root: int) -> dict[str, list[str]]:
    """{pid: stat fields} for ``root`` and all its descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                stats[pid] = f
    children: dict[str, list[str]] = {}
    for pid, f in stats.items():
        children.setdefault(f[2], []).append(pid)
    out, todo = {}, [str(root)]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int | None = None) -> list[str]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = root or os.getpid()
    return [pid for pid in _tree(root) if pid != str(root)]


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of the tree, including reaped children
    (whose time the kernel folds into their parent's cutime/cstime)."""
    tree = _tree(root or os.getpid())
    # after comm: utime=12 stime=13 cutime=14 cstime=15 (0-based, comm=0)
    ticks = sum(sum(int(f[i]) for i in (12, 13, 14, 15)) for f in tree.values())
    return ticks / _CLK_TCK


def tree_rss_mb(root: int | None = None) -> tuple[float, float]:
    """(RSS of the tree's JVMs, RSS of its Python processes) in MB.

    Other processes are left out: the JVM spawns short-lived helpers
    that, until they exec, share its address space and report its
    multi-GB RSS as their own."""
    java = py = 0
    for f in _tree(root or os.getpid()).values():
        if f[0] == "java":
            java += int(f[22])
        elif f[0].startswith("python"):
            py += int(f[22])
    return java * _PAGE / 2**20, py * _PAGE / 2**20


class MemSampler:
    """Background thread sampling memory; ``peaks()`` returns the largest
    samples since the last ``reset()``: RSS of the tree's JVMs plus
    Python processes, of the JVMs, of the Python processes, and
    ``extra_mb()`` if given."""

    KEYS = ("rss_mb", "jvm_rss_mb", "py_rss_mb", "extra_mb")

    def __init__(self, extra_mb=None, interval_s: float = 0.2):
        self.extra_mb = extra_mb
        self.interval_s = interval_s
        self._peaks = dict.fromkeys(self.KEYS, 0.0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        jvm, py = tree_rss_mb()
        extra = self.extra_mb() if self.extra_mb else 0.0
        with self._lock:
            for k, v in zip(self.KEYS, (jvm + py, jvm, py, extra)):
                self._peaks[k] = max(self._peaks[k], v)

    def reset(self) -> None:
        with self._lock:
            self._peaks = dict.fromkeys(self.KEYS, 0.0)

    def peaks(self) -> dict[str, float]:
        self.sample()
        with self._lock:
            return dict(self._peaks)


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostNoise:
    """Noise annotations for one run: the 1-minute load average read
    before the run starts (read after, it counts this benchmark's own
    busy cores) and the share of host CPU time the hypervisor stole
    while the run was going (the 8th value of ``/proc/stat``'s cpu line).
    These are annotations, not metrics."""

    def __init__(self) -> None:
        with open("/proc/loadavg") as f:
            self.pre_load1 = float(f.read().split()[0])
        self._start = _cpu_line()

    def annotations(self) -> dict:
        now = _cpu_line()
        delta = [b - a for a, b in zip(self._start, now)]
        total = sum(delta)
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "pre_load1": self.pre_load1,
            "steal_share": steal / total if total else 0.0,
            "cpus": os.cpu_count(),
        }

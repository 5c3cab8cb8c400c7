"""Process-tree accounting read from /proc: CPU seconds of the Python
workers and summed resident memory; and the host's steal time.

The benchmark runs as one Python process; Spark's JVM is its child and
the PySpark worker daemon with its forked workers are the JVM's
children. Reaped workers are charged through their parent's
cutime/cstime, so CPU of workers that exited between two snapshots is
not lost.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _processes() -> "dict[int, tuple[int, str, float, int]]":
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1 : s.rindex(")")]
        rest = s[s.rindex(")") + 2 :].split()
        # fields after the comm: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21, pages)
        cpu = sum(int(x) for x in rest[11:15]) / _CLK
        out[int(d)] = (int(rest[1]), comm, cpu, int(rest[21]) * _PAGE)
    return out


def tree() -> "dict[int, tuple[int, str, float, int]]":
    """This process and all its descendants."""
    procs = _processes()
    children: "dict[int, list[int]]" = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs:
            out[p] = procs[p]
            stack.extend(children.get(p, []))
    return out


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python processes in this tree other than this
    one: the benchmark starts none itself, so they are the PySpark worker
    daemon below the JVM and the workers it forked."""
    me = os.getpid()
    return sum(cpu for pid, (_pp, comm, cpu, _rss) in tree().items() if pid != me and comm.startswith("python"))


def tree_rss_bytes() -> int:
    return sum(rss for (_pp, _c, _cpu, rss) in tree().values())


class PeakRss:
    """Samples the summed RSS of this process tree on a background
    thread until ``stop()``; ``peak`` is the largest sample."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self._interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_steal_s() -> float:
    """CPU time the hypervisor took from this VM since boot, summed over
    all its CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK

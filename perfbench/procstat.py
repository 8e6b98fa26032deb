"""Process-tree CPU, memory and I/O, and host interference, from ``/proc``.

The tree is the benchmark's own Python process (the Spark driver client),
the JVM it launched, and every Python worker the JVM forked. Reused
workers are children of ``pyspark.daemon``, so they are grandchildren of
the JVM; workers that already exited are counted through the daemon's
reaped-children time (``cutime``/``cstime``).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) of ``/proc/<pid>/stat``."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    rest = raw[rp + 2 :].split()
    return raw[lp + 1 : rp], int(rest[1]), rest


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock start of a process (10 ms resolution)."""
    pid = pid or os.getpid()
    _comm, _ppid, rest = _stat(pid)
    start_ticks = int(rest[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / CLK_TCK


@dataclass
class TreeSample:
    driver_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    worker_cpu_s: float = 0.0
    rss_bytes: int = 0
    write_bytes: int = 0


def _descendants(root: int) -> dict[int, tuple[str, int, list[str]]]:
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, (_c, ppid, _r) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {p: procs[p] for p in keep if p in procs}


def _is_daemon(pid: int) -> bool:
    cmd = _read(f"/proc/{pid}/cmdline") or ""
    return "pyspark.daemon" in cmd


def sample_tree(root: int | None = None, io: bool = True) -> TreeSample:
    """CPU, RSS and (with ``io``) storage write bytes, summed over the tree."""
    root = root or os.getpid()
    tree = _descendants(root)
    jvms = {p for p, (comm, _pp, _r) in tree.items() if comm == "java"}
    daemons = {p for p in tree if p not in jvms and p != root and _is_daemon(p)}
    worker_roots = set(daemons)
    for jvm in jvms:
        # python workers forked by the JVM without a daemon
        worker_roots |= {
            p for p, (comm, pp, _r) in tree.items()
            if pp == jvm and comm.startswith("python")
        }
    workers = set(worker_roots)
    grew = True
    while grew:
        grew = False
        for p, (_c, pp, _r) in tree.items():
            if pp in workers and p not in workers:
                workers.add(p)
                grew = True

    s = TreeSample()
    for pid, (_comm, _pp, rest) in tree.items():
        utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
        own = (utime + stime) / CLK_TCK
        reaped = (cutime + cstime) / CLK_TCK
        if pid == root:
            s.driver_cpu_s += own
        elif pid in jvms:
            # the JVM's only children are python workers and the daemon,
            # so what it reaped is worker time
            s.jvm_cpu_s += own
            s.worker_cpu_s += reaped
        elif pid in workers:
            s.worker_cpu_s += own + (reaped if pid in daemons else 0.0)
        s.rss_bytes += int(rest[21]) * PAGE
        stats = _read(f"/proc/{pid}/io") if io else None
        if stats:
            for line in stats.splitlines():
                if line.startswith("write_bytes:"):
                    s.write_bytes += int(line.split()[1])
    return s


def descendant_pids() -> set[int]:
    me = os.getpid()
    return set(_descendants(me)) - {me}


def wait_gone(pids: set[int], timeout: float) -> bool:
    """Wait until none of ``pids`` exists any more; True if they all ended."""
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


@dataclass
class HostSample:
    steal: int
    iowait: int


def sample_host() -> HostSample:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return HostSample(steal=int(parts[8]), iowait=int(parts[5]))


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Sampler:
    """Background thread sampling peak tree RSS and max 1-minute load
    every ``interval`` seconds between :meth:`start` and :meth:`stop`."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_rss = 0
        self.load_max = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tick(self) -> None:
        self.peak_rss = max(self.peak_rss, sample_tree(io=False).rss_bytes)
        self.load_max = max(self.load_max, load_1m())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._tick()

    def start(self) -> "Sampler":
        self._tick()
        self._thread = threading.Thread(target=self._loop, name="perfbench-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._tick()

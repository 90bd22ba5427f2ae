"""Run metadata and the peak-RSS sampler of the driver's process tree."""

from __future__ import annotations

import os
import sys
import threading
import time


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


class Calibrator:
    """``procs`` idle worker processes that, on ``rate()``, all run the
    integer loop of ``host_mops`` at once and return their aggregate
    million loop steps per second: how fast this host runs right now at
    the job's own width.

    On a shared host that speed is not fixed. When other guests hold the
    physical cores, every process here runs slower for minutes at a time,
    with little of it reported as steal, and the benchmarked job slows by
    the same factor as this loop. Calibrating just before each pass
    measures that factor."""

    OPS = 2_000_000  # per worker; ~0.1 s on an unloaded core

    def __init__(self, procs: int):
        import multiprocessing as mp

        self.procs = procs
        self._pool = mp.get_context("fork").Pool(procs)

    def rate(self) -> float:
        t = time.perf_counter()
        self._pool.map(_spin, [self.OPS] * self.procs, chunksize=1)
        return self.procs * self.OPS / (time.perf_counter() - t) / 1e6

    def close(self) -> None:
        """Stop the workers and wait until each has ended."""
        self._pool.close()
        self._pool.join()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_mops(root: str, procs: int) -> float:
    """Aggregate Mops/s of ``procs`` spinning processes, from the repo's
    own calibration (scripts/bench_scaling.cpu_capacity): the host-load
    denominator for every throughput in the run."""
    sys.path.insert(0, os.path.join(root, "scripts"))
    try:
        from bench_scaling import cpu_capacity
    finally:
        sys.path.pop(0)
    return round(cpu_capacity(procs, n=6_000_000), 1)


def loadavg() -> list:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def metadata() -> dict:
    import numpy
    import pyarrow
    import pyspark

    import webx.ctokenize as ck

    return {
        "nproc": nproc(),
        "loadavg": loadavg(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "ctokenize_available": bool(ck.AVAILABLE),
    }


def _processes():
    """pid → (ppid, comm, start time) of every process."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
            fields = tail.split()
            procs[int(name)] = (int(fields[1]), head.split("(", 1)[1], fields[19])
        except (OSError, IndexError, ValueError):
            continue
    return procs


def descendants(root_pid: int) -> set:
    """(pid, start time) of every process below ``root_pid``."""
    procs = _processes()
    children = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.add((pid, procs[pid][2]))
        todo.extend(children.get(pid, ()))
    return out


def wait_gone(procs: set, timeout: float = 30.0) -> None:
    """Wait until every (pid, start time) in ``procs`` has ended; kill
    what is left after ``timeout``."""
    import signal
    import time

    def alive():
        now = _processes()
        return [p for p, st in procs if p in now and now[p][2] == st]

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _tree_rss(root_pid: int) -> int:
    procs = _processes()
    children, comm = {}, {}
    for pid, (ppid, name, _) in procs.items():
        comm[pid] = name
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, ())
        # a child the JVM is spawning still shares the JVM's memory until
        # it execs (Hadoop's local file system shells out): not counted
        todo.extend(k for k in kids if not (comm[pid] == comm[k] == "java"))
        total += _pss(pid)
    return total


def _pss(pid: int) -> int:
    """Proportional set size: RSS with each shared page divided among the
    processes mapping it, so forked Python workers are not counted once
    per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed proportional RSS (PSS) of this process and all
    its descendants (the JVM and the Python workers) every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss(pid))
            if self._stop.wait(self.interval):
                return

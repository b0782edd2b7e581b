"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (Linux), and a reference measure of the host's speed.

The process tree covers the driver JVM, the Python worker daemon and every
Python worker it forked."""

from __future__ import annotations

import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> "list[str] | None":
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_stats(root: int) -> "tuple[float, dict]":
    """(cpu seconds, {pid: (parent pid, rss MB)}) of ``root`` and its
    descendants.

    CPU is user + system time including reaped children, so the work of a
    worker that exited inside the interval is still counted (its parent
    holds it in ``cutime``/``cstime``)."""
    fields: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        pid = int(name)
        fields[pid] = f
        children.setdefault(int(f[1]), []).append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in fields:
            continue
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    cpu = sum(sum(int(x) for x in fields[p][11:15]) for p in pids) / _TICK
    return cpu, {p: (int(fields[p][1]), int(fields[p][21]) * _PAGE / 2**20) for p in pids}


def _is_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class PeakRss:
    """Samples the RSS of the tree under ``root`` on a thread until
    stopped, keeping two peaks: the ``jvm`` process (``jvm_mb``) and the
    Python side (``python_mb``), the summed RSS of the Python worker
    daemons (one per worker configuration) and every worker they forked,
    with the largest number of those processes seen at once
    (``python_procs``). Pages a worker shares with its daemon after the
    fork count once per process. The JVM's
    other children are short-lived helpers that read as a copy of the JVM
    until they exec, so they are left out."""

    def __init__(self, root: int, jvm: int, interval_s: float = 0.05):
        self.root = root
        self.jvm = jvm
        self.interval_s = interval_s
        self.jvm_mb = self.python_mb = 0.0
        self.python_procs = 0
        self._daemon: dict[int, bool] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            tree = tree_stats(self.root)[1]
            self.jvm_mb = max(self.jvm_mb, tree.get(self.jvm, (0, 0.0))[1])
            side = []
            for pid, (parent, _) in tree.items():
                if parent == self.jvm:
                    if pid not in self._daemon:
                        self._daemon[pid] = _is_daemon(pid)
                    if self._daemon[pid]:
                        side.append(pid)
            side += [pid for pid, (parent, _) in tree.items() if parent in side]
            self.python_mb = max(self.python_mb, sum(tree[p][1] for p in side))
            self.python_procs = max(self.python_procs, len(side))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ host speed
REF_LOOPS = 150_000  # iterations of the reference loop, about 0.1 s


def _spin(n: int) -> "tuple[float, float]":
    """A fixed pure-Python loop (dict, str and int work, like the parsers'
    inner loops); returns its (wall, CPU) seconds."""
    t0, c0 = time.perf_counter(), time.process_time()
    d: dict = {}
    s = 0
    for i in range(n):
        k = str(i % 997)
        d[k] = d.get(k, 0) + i
        s += len(k)
    return time.perf_counter() - t0, time.process_time() - c0


class HostRef:
    """The host's current speed: a fixed loop run on every core at once
    by a pool of ``nproc`` processes forked when this is created (before
    the session starts, so they hold no JVM state). ``measure()`` returns
    the (wall, CPU) seconds one loop takes, the mean over the processes
    and the median over ``reps`` rounds. The pool is idle between
    measures; use as a context manager so that it is shut down and
    waited for."""

    def __init__(self, nproc: int, loops: int = REF_LOOPS):
        import multiprocessing

        self.nproc = nproc
        self.loops = loops
        self._pool = multiprocessing.get_context("fork").Pool(nproc)

    def measure(self, reps: int = 9) -> "tuple[float, float]":
        walls, cpus = [], []
        for _ in range(reps):
            out = self._pool.map(_spin, [self.loops] * self.nproc, chunksize=1)
            walls.append(statistics.fmean(w for w, _ in out))
            cpus.append(statistics.fmean(c for _, c in out))
        return statistics.median(walls), statistics.median(cpus)

    def __enter__(self) -> "HostRef":
        return self

    def __exit__(self, *exc) -> None:
        self._pool.close()
        self._pool.join()

"""Host sizing and /proc accounting for the benchmark (psutil is not
available, so everything here reads /proc directly).

- ``size_session`` picks cores and driver memory from the host and puts
  the repo on the Python workers' path.
- ``ProcTree`` sums CPU time over every descendant of this process (the
  Spark driver JVM and the Python workers it forks) and proportional
  resident memory over the Python workers (the JVM's heap use is read
  over py4j instead, in ``common.Window``).
- ``cpu_stat`` gives the aggregate /proc/stat counters for steal%.
- ``adopt_orphans`` and ``stop_all`` make sure a run leaves no process
  behind: the driver JVM and the Python worker daemon it forks are
  stopped and waited for on every way out of a run.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def size_session(root: str, work: str) -> dict:
    """Export the session sizing the package's ``build_session`` reads
    (cores, driver heap) plus the paths Spark and Python temp files go
    to, all inside the checkout. Returns the chosen sizing.

    The driver heap is pinned (-Xms) by ``build_session``, so it must
    fit the host: a quarter of MemTotal, capped at the package's 8g
    default."""
    cpus = len(os.sched_getaffinity(0))
    mem = mem_total_mb()
    heap_mb = min(8192, mem // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH", "")
    if root not in py_path.split(os.pathsep):
        py_path = root + (os.pathsep + py_path if py_path else "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # workers import the package by name: without the repo root on
        # their path a run from outside it fails with ModuleNotFoundError
        "PYTHONPATH": py_path,
    })
    return {"cpus": cpus, "mem_total_mb": mem, "driver_heap_mb": heap_mb}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


class ProcTree:
    """CPU seconds and RSS of every descendant of ``root_pid``."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        kids = _children_map()
        out, todo = [], list(kids.get(self.root, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu_s(self) -> float:
        """utime+stime of live descendants plus what they reaped from
        exited children (cutime+cstime), in seconds."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / _CLK

    def rss_mb(self) -> float:
        """Summed proportional set size (PSS) of the tree's Python
        processes: forked workers share pages with their daemon, which a
        plain RSS sum would count once per worker. Other processes are
        left out: a helper the JVM forks holds a share of the JVM's pages
        until it execs. The JVM itself is left out too: its resident
        size swung 2.6 to 4.7 GB on identical runs, so the benchmark
        counts its heap use instead (``common.Window``)."""
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024

    # -- peak sampling over a window --------------------------------
    def start_peak(self, interval: float = 0.1) -> None:
        self._peak = self.rss_mb()
        self._stop.clear()

        def loop():
            while not self._stop.wait(interval):
                self._peak = max(self._peak, self.rss_mb())

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_peak(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        return max(self._peak, self.rss_mb())


def cpu_stat() -> tuple[int, int]:
    """(total ticks, steal ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: a process
    whose parent dies (the Python worker daemon when the JVM exits) is
    re-parented here instead of to init, so ``stop_all`` can wait for
    it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> bool:
    """Reap every exited child; True once no child is left at all."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def stop_all(grace: float = 20.0, limit: float = 60.0) -> None:
    """Stop the Spark session and its driver JVM, then wait until every
    descendant of this process has ended.

    The JVM exits when its stdin closes (that is how PySpark ties it to
    this process); it is closed here rather than at interpreter exit, so
    the JVM and the worker daemon end before this process does.
    Descendants still alive after ``grace`` seconds get SIGTERM, and
    SIGKILL from ``grace + 5`` on. Raises if any is left after
    ``limit`` seconds."""
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    if SparkContext is not None:
        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception as e:  # the JVM is ended below in any case
                print(f"[perfbench] session stop failed: {e!r}",
                      file=sys.stderr, flush=True)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    t0 = time.monotonic()
    while not _reap():
        waited = time.monotonic() - t0
        if waited > limit:
            raise RuntimeError(f"processes left running: {ProcTree().pids()}")
        if waited > grace:
            sig = signal.SIGKILL if waited > grace + 5 else signal.SIGTERM
            for pid in ProcTree().pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)

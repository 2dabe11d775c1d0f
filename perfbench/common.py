"""Session lifecycle and measurement helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import sys
import time

from perfbench import host


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: str, cpus: int):
    """A local[cpus] session through the package's ``build_session`` (which
    reads the host sizing exported by ``host.size_session``). In a fresh
    process this launches the driver JVM; a benchmark run starts one
    session, so ``setup_s`` is a cold start."""
    from indonesian_id_ocr_service_spark.session import build_session

    return build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def median(xs):
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Window:
    """A measured window: peak memory of the Spark process tree and host
    steal%. Peak memory is the Python workers' peak PSS, sampled from
    /proc, plus the driver JVM's peak heap use, read from its memory-pool
    MXBeans (peaks reset when the window opens). The JVM's resident size
    is not used: ``build_session`` pins the heap with -Xms, so the
    resident size follows how much of the heap the collector has touched,
    not what the job holds."""

    def __init__(self, spark):
        self.tree = host.ProcTree()
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if p.getType().name() == "HEAP"]

    def __enter__(self):
        self.stat0 = host.cpu_stat()
        for p in self.pools:
            p.resetPeakUsage()
        self.tree.start_peak()
        return self

    def __exit__(self, *exc):
        py_mb = self.tree.stop_peak()
        pools = {p.getName(): p.getPeakUsage().getUsed() / 2**20
                 for p in self.pools}
        heap_mb = sum(pools.values())
        self.peak_mb = py_mb + heap_mb
        self.steal_pct = host.steal_pct(self.stat0, host.cpu_stat())
        log(f"peak memory {self.peak_mb:.0f} MB: Python workers "
            f"{py_mb:.0f} MB, JVM heap {heap_mb:.0f} MB ("
            + ", ".join(f"{k} {v:.0f}" for k, v in pools.items()) + ")")
        return False


def timed(fn, tree: host.ProcTree | None = None):
    """(result, wall seconds, CPU seconds of the process tree)."""
    c0 = tree.cpu_s() if tree else 0.0
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, (tree.cpu_s() - c0) if tree else 0.0

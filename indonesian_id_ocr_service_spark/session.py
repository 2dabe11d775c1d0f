"""SparkSession builders tuned for the extraction workload.

Scale posture (designed for 1000-executor clusters, exercised on
local[N] here):

- AQE on: runtime coalescing + skew-join splitting.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is set to 2-3× total executor cores via spark-submit conf.
- Arrow enabled for every pandas-UDF boundary; batch size capped so a
  media-heavy batch can't blow executor memory.
- ANSI off: OCR data is noisy by design — the pipeline uses permissive
  try-cast semantics everywhere (mirrors the reference's never-raise
  contract, e.g. /root/reference/date_normalizer.py:71-77).
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

#: binary-unit multipliers of Spark's memory strings, in MiB
_MIB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 ** 2}


def host_mem_total_kb(path: str = "/proc/meminfo") -> int | None:
    """The host's ``MemTotal`` in kB, or None when it cannot be read."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def clamp_driver_mem(mem: str, mem_total_kb: int | None) -> str:
    """``mem`` (a Spark memory string such as ``48g`` or ``4017m``),
    lowered to half of ``mem_total_kb`` when it asks for more, in whole
    MiB. The driver heap is pinned with ``-Xms``, so a size the host
    cannot commit stops the JVM at start-up. An unknown host size or an
    unparsable string leaves ``mem`` as it is."""
    m = re.fullmatch(r"\s*(\d+)(?:([kmgt])b?)?\s*", mem.lower())
    if mem_total_kb is None or m is None:
        return mem
    asked_mb = int(m.group(1)) * _MIB[m.group(2) or "m"]
    cap_mb = mem_total_kb // 2048
    return f"{cap_mb}m" if asked_mb > cap_mb else mem


def build_session(
    app_name: str = "indonesian-id-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    asked_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    driver_mem = clamp_driver_mem(asked_mem, host_mem_total_kb())
    if driver_mem != asked_mem:
        print(f"build_session: driver memory {asked_mem} clamped to "
              f"{driver_mem} (half of the host's MemTotal)",
              file=sys.stderr)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Pin the heap and use the throughput collector: under the
        # normalizer chains' allocation rate, G1's region
        # uncommit/recommit had this kernel zero-filling pages from GC
        # worker threads — observed ~28 of 32 cores in system time with
        # executor threads idle; ParallelGC + Xms=Xmx runs the same job
        # at 100% user CPU.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mem} -XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Per-document work is compute-heavy (pandas UDF extraction), so
        # input splits must target CORES, not IO: the defaults
        # (128 MB splits, 4 MB file-open cost) bin-pack a small corpus
        # into 2-3 partitions and starve the executors. At warehouse
        # scale the natural 128 MB splits already exceed core count;
        # these knobs only matter for small/medium inputs.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # Spark 4's ICU-backed case mapping pays a multi-minute
        # single-threaded CollationAwareUTF8String static init on the
        # first upper()/lower() — it serialized the whole cluster on
        # first touch (observed: 32 executor threads blocked ~340 s on
        # the class-init monitor). JVM case mapping is correct for this
        # ASCII corpus and matches Python str.upper() in the oracle.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

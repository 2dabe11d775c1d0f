"""Extraction workloads: the ``jobs/extract_job.py`` path
(``ExtractionRun.process`` over ``run_pipeline``, default flags) on a
seeded corpus, one job at a time in a closed loop.

Untraced runs report the end-to-end metrics. A traced run reports the
layer split: differential Spark-side timings (scan, kernel-input
projection, Arrow round trip, kernel, span assembly, write, lineage
commit) and an in-process replay of the kernel with its sub-layers
wrapped by ``perfbench.trace``.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from perfbench import host, inputs
from perfbench.common import Window, log, median, noop, start_session, timed

#: document-type fractions (KTP, SIM, UNKNOWN): bench.py's corpus mix
FRACTIONS = (0.6, 0.3, 0.1)
N_DOCS = 3072
WARMUP_JOBS = 1       # warm-up process jobs in set-up, each N_DOCS documents
MIN_JOBS = 2          # wall_s is the median of at least this many jobs
SAMPLE_DOCS = 40      # oracle-checked documents per job
REPLAY_DOCS = 128     # documents replayed in-process through the kernel


class Extraction:
    def __init__(self, seed: int, work: str, cpus: int):
        self.seed, self.work, self.cpus = seed, work, cpus
        tag = f"extract_s{seed}_n{N_DOCS}"
        self.corpus = os.path.join(work, "inputs", f"corpus_{tag}")
        self.out = os.path.join(work, "out", tag)
        self.attempted = 0
        self.failed = 0
        self.tree = host.ProcTree()
        inputs.make_corpus(self.corpus, N_DOCS, seed, FRACTIONS,
                           files=2 * cpus)
        # warm-up documents follow the measured ones in the same stream
        self.warmup = inputs.make_corpus(
            os.path.join(work, "inputs", f"warmup_{tag}"), N_DOCS, seed,
            FRACTIONS, files=2 * cpus, start=N_DOCS)
        self.expected = inputs.expected_spans(
            os.path.join(work, "inputs", f"expected_{tag}.json"),
            inputs.sample_indices(N_DOCS, SAMPLE_DOCS, seed),
            seed, FRACTIONS)
        self.spark = None

    # -- set-up -------------------------------------------------------
    def setup(self) -> float:
        """Seconds of one cold session start through WARMUP_JOBS warm-up
        ``process`` jobs over a warm-up corpus shaped like the measured
        one. The warm-up starts every Python worker, imports the kernel
        there and runs the commit path once; it also takes the JVM past
        its slowest job (the first jobs in a fresh JVM took about 13.5,
        9.5, 7.7 and then 6-7 s on a 4,096-document corpus)."""
        from indonesian_id_ocr_service_spark.pipeline import run_pipeline
        from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.cpus)
        t_start = time.perf_counter() - t0
        for k in range(WARMUP_JOBS):
            base = os.path.join(self.out, f"warmup{k}")
            shutil.rmtree(base, ignore_errors=True)
            ExtractionRun(base, f"warmup{k}").process(
                self.spark, self.src(self.warmup), run_pipeline)
            shutil.rmtree(base, ignore_errors=True)
        setup_s = time.perf_counter() - t0
        log(f"setup: {setup_s:.2f}s, of which session start {t_start:.2f}s")
        return setup_s

    def src(self, path: str | None = None):
        return self.spark.read.parquet(path or self.corpus)

    # -- one job ------------------------------------------------------
    def job(self, run_id: str):
        """One ``ExtractionRun.process`` into a fresh run dir; returns
        (wall s, CPU s). Outputs are checked after the clock stops."""
        from indonesian_id_ocr_service_spark.pipeline import run_pipeline
        from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

        base = os.path.join(self.out, run_id)
        shutil.rmtree(base, ignore_errors=True)
        run = ExtractionRun(base, run_id)
        try:
            res, wall, cpu = timed(
                lambda: run.process(self.spark, self.src(), run_pipeline),
                self.tree)
        except Exception as e:  # a failed job is a counted failure
            log(f"job {run_id} failed: {e!s:.300}")
            self.attempted += SAMPLE_DOCS + 1
            self.failed += SAMPLE_DOCS + 1
            return math.nan, math.nan
        t0 = time.perf_counter()
        self.check(run, res)
        shutil.rmtree(base, ignore_errors=True)
        log(f"job {run_id}: {wall:.3f}s wall, {cpu:.2f}s cpu; output "
            f"checked in {time.perf_counter() - t0:.2f}s")
        return wall, cpu

    def check(self, run, res: dict) -> None:
        """Row count and lineage, plus (kind, text, media_ref, order)
        equality with the oracle for the sampled documents."""
        from pyspark.sql import functions as F

        self.attempted += 1 + len(self.expected)
        if res["rows"] != N_DOCS or res["buckets_run"] != run.n_buckets:
            log(f"row/lineage mismatch: {res}")
            self.failed += 1
        got = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                          for s in sorted(r["out_spans"],
                                          key=lambda s: s["order"])]
            for r in self.spark.read.parquet(run.results_dir)
            .filter(F.col("doc_id").isin(list(self.expected)))
            .select("doc_id", "out_spans").collect()
        }
        bad = [d for d, exp in self.expected.items() if got.get(d) != exp]
        if bad:
            log(f"oracle mismatch on {len(bad)} docs, e.g. {bad[:3]}")
        self.failed += len(bad)

    # -- untraced run: end-to-end metrics -----------------------------
    def jobs(self, seconds: float) -> tuple[float, float]:
        """Closed loop of ``process`` jobs: at least MIN_JOBS, and on until
        ``seconds`` have passed. Returns the median (wall s, CPU s) over
        the jobs that did not fail."""
        walls, cpus = [], []
        t_end = time.perf_counter() + seconds
        while len(walls) < MIN_JOBS or time.perf_counter() < t_end:
            wall, cpu = self.job(f"job{len(walls)}")
            walls.append(wall)
            cpus.append(cpu)
        ok = [i for i, x in enumerate(walls) if x == x]
        if not ok:
            return math.nan, math.nan
        return median([walls[i] for i in ok]), median([cpus[i] for i in ok])

    def measure(self, seconds: float) -> dict:
        setup_s = self.setup()
        with Window(self.spark) as w:
            wall_s, cpu_s = self.jobs(seconds)
        self.spark.stop()
        log(f"host steal {w.steal_pct:.1f}% over the measured jobs")
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "docs_per_s": (N_DOCS / wall_s, "docs/s"),
            "cpu_s": (cpu_s, "s"),
            "peak_rss_mb": (w.peak_mb, "MB"),
        }

    # -- traced run: per-layer metrics --------------------------------
    def layers(self) -> dict:
        """The untraced job loop first (its median job time is the
        reference the Spark-side layers are checked against, and it warms
        the JVM for them), then the layer measurements."""
        self.setup()
        m: dict = {}
        with Window(self.spark) as w:
            wall_s, _ = self.jobs(0)
            for step in (lambda: self.spark_layers(wall_s),
                         self.doc_counts, self.replay):
                got, secs, _ = timed(step)
                m.update(got)
                log(f"{len(got)} layer metrics in {secs:.1f}s")
        m["host.steal_pct"] = (w.steal_pct, "%")
        self.spark.stop()
        return m

    def spark_layers(self, wall_s: float) -> dict:
        """Differential timing: each stage adds one layer to the one
        before, ending at the full ``ExtractionRun.process`` job. By
        construction the layers sum to that stage's time, so
        ``layers.gap_pct`` compares their sum with ``wall_s``, the median
        of the untraced job loop run just before."""
        from pyspark.sql import functions as F

        from indonesian_id_ocr_service_spark.operators.unified_extract import (
            FULL_KERNEL_SCHEMA,
            full_kernel_batch_arrow,
        )
        from indonesian_id_ocr_service_spark.pipeline import (
            _kernel_input,
            run_pipeline,
            with_default_geometry,
        )
        from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

        def proj():
            return _kernel_input(with_default_geometry(self.src()))

        def identity(batches):
            yield from batches

        schema = proj().schema

        def clock(fn):
            return lambda: timed(fn)[1]

        def bucketed_write():
            """``process``'s partitioned dynamic-overwrite write into a
            fresh directory, without its bucket filter, read-back and
            lineage append."""
            base = os.path.join(self.out, "layer_bucketed")
            shutil.rmtree(base, ignore_errors=True)
            run = ExtractionRun(base, "layers")
            out = run_pipeline(self.src()).withColumn("bucket",
                                                      run.bucket_of())
            return timed(lambda: out.write.mode("overwrite")
                         .option("partitionOverwriteMode", "dynamic")
                         .partitionBy("bucket")
                         .parquet(run.results_dir))[1]

        # each stage returns its seconds; the process job times itself, so
        # its output check stays off the clock
        stages = {
            "scan": clock(lambda: noop(self.src())),
            "proj": clock(lambda: noop(proj())),
            "arrow": clock(lambda: noop(proj().mapInArrow(identity,
                                                          schema=schema))),
            "kernel": clock(lambda: noop(proj().mapInArrow(
                full_kernel_batch_arrow, schema=FULL_KERNEL_SCHEMA))),
            "pipe": clock(lambda: noop(run_pipeline(self.src()))),
            "write": bucketed_write,
            "process": lambda: self.job("layers")[0],
        }
        # one walk over the stages, on the JVM the job loop warmed; the
        # process job runs in its own job group, for the task statistics
        sc = self.spark.sparkContext
        t = {}
        for name, fn in stages.items():
            if name == "process":
                sc.setJobGroup("perfbench-process", "one process job")
            t[name] = fn()
        sc.setJobGroup("perfbench-other", "")
        log("layer stages: " + " ".join(f"{k}={v:.2f}" for k, v in t.items())
            + f"; untraced job median {wall_s:.2f}")
        tasks, skew = task_stats(self.spark, "perfbench-process")
        # one core's share of the corpus (files / cores of its files) on
        # one partition, against the whole corpus on every core: 1.0 is
        # perfect scaling
        files = sorted(os.path.join(self.corpus, f)
                       for f in os.listdir(self.corpus)
                       if f.endswith(".parquet"))
        share = files[:max(1, len(files) // self.cpus)]
        t_share = timed(lambda: noop(run_pipeline(
            self.spark.read.parquet(*share).coalesce(1))))[1]
        with_alt = proj().filter(F.col("spans_alt").isNotNull()).count()
        return {
            "scan.s": (t["scan"], "s"),
            "kernel_input.s": (t["proj"] - t["scan"], "s"),
            "arrow_boundary.s": (t["arrow"] - t["proj"], "s"),
            "arrow.rows_with_alt": (with_alt, "count"),
            "unified_extract.s": (t["kernel"] - t["arrow"], "s"),
            "assemble.s": (t["pipe"] - t["kernel"], "s"),
            "write.s": (t["write"] - t["pipe"], "s"),
            "lineage.commit_s": (t["process"] - t["write"], "s"),
            "layers.gap_pct": (100 * (t["process"] - wall_s) / wall_s, "%"),
            "tasks": (tasks, "count"),
            "partition_skew": (skew, "ratio"),
            "pipeline.scaling_eff_1to4": (t_share / t["pipe"], "ratio"),
        }

    def doc_counts(self) -> dict:
        """Documents per final type, and UNKNOWN-primary documents the
        alternative view reclassified (C3 retry), over the whole corpus."""
        from pyspark.sql import functions as F

        from indonesian_id_ocr_service_spark.operators import classify
        from indonesian_id_ocr_service_spark.operators.unified_extract import (
            FULL_KERNEL_SCHEMA,
            full_kernel_batch_arrow,
        )
        from indonesian_id_ocr_service_spark.pipeline import (
            _kernel_input,
            with_default_geometry,
        )

        src = self.src()
        out = (_kernel_input(with_default_geometry(src))
               .mapInArrow(full_kernel_batch_arrow, schema=FULL_KERNEL_SCHEMA)
               .select("doc_id", "doc_type"))
        prim = src.select("doc_id", (classify.document_type(F.col("spans"))
                                     == "UNKNOWN").alias("prim_unknown"))
        counts = {"KTP": 0, "SIM": 0, "UNKNOWN": 0}
        retry = 0
        for r in (out.join(prim, "doc_id")
                  .groupBy("doc_type", "prim_unknown").count().collect()):
            counts[r["doc_type"]] = counts.get(r["doc_type"], 0) + r["count"]
            if r["prim_unknown"] and r["doc_type"] != "UNKNOWN":
                retry += r["count"]
        return {**{f"docs.{k}": (v, "count") for k, v in counts.items()},
                "docs.retry_reclassified": (retry, "count")}

    def replay(self) -> dict:
        """Replay kernel-input rows in-process, in seven slices of
        REPLAY_DOCS documents.

        - Slice 0 warms the kernel's caches.
        - Untraced replays of slices 1-3 give the per-document cost, and
          traced replays of slices 4-6 give layer times, call counts and
          cache hit ratios. All six see documents the caches have not
          seen: replaying seen batches would read every cache hit ratio
          as 1.0.
        - The tracing overhead compares untraced with traced replays of
          all seven slices again, alternating twice: the same documents,
          equally warm, so the slices' different mix does not count, and
          seven slices long, so that timer noise does not swamp it."""
        from indonesian_id_ocr_service_spark.operators.unified_extract import (
            full_kernel_batch_arrow,
        )
        from indonesian_id_ocr_service_spark.pipeline import (
            _kernel_input,
            with_default_geometry,
        )
        from perfbench import trace

        src = self.src()
        n_parts = src.rdd.getNumPartitions()
        tbl = _kernel_input(with_default_geometry(src)).limit(
            7 * REPLAY_DOCS).toArrow()
        per = min(4096, max(1, math.ceil(N_DOCS / n_parts)))
        n = tbl.num_rows // 7
        tracer = trace.Tracer()

        def run(k, slices=1):
            for _ in full_kernel_batch_arrow(iter(
                    tbl.slice(n * k, n * slices).to_batches(
                        max_chunksize=per))):
                pass

        def traced_run(k, run_id, slices=1):
            tracer.run_id = run_id
            with tracer.installed():
                t0 = time.perf_counter()
                with tracer.span("unified_extract"):
                    run(k, slices)
                return time.perf_counter() - t0

        run(0)
        plain = [timed(lambda: run(k))[1] for k in (1, 2, 3)]
        sums, hit = [], {}
        for rep, k in enumerate((4, 5, 6)):
            c0 = trace.cache_counts()
            traced_run(k, rep)
            c1 = trace.cache_counts()
            for layer in c1:
                h = c1[layer][0] - c0[layer][0]
                mi = c1[layer][1] - c0[layer][1]
                hit.setdefault(layer, []).append(h / (h + mi) if h + mi
                                                 else 0.0)
            sums.append(tracer.summary(rep))
        warm_plain, warm_traced = [], []
        for rep in range(2):
            warm_plain.append(timed(lambda: run(0, 7))[1])
            warm_traced.append(traced_run(0, 3 + rep, 7))
        tracer.dump(os.path.join(self.out, "spans.json"))

        def agg(name, key="s"):
            return median([s.get(name, {}).get(key, 0) for s in sums])

        return {
            "unified_extract.self_s": (agg("unified_extract", "self_s"), "s"),
            "unified_extract.ms_per_doc": (1000 * median(plain) / n, "ms"),
            # fastest of each: interference from the host only adds time
            "tracing.overhead_pct": (
                100 * (min(warm_traced) - min(warm_plain))
                / min(warm_plain), "%"),
            "classify.s": (agg("classify"), "s"),
            "ktp_spatial.s": (agg("ktp_spatial")
                              + agg("ktp_spatial.nik_rescue"), "s"),
            "ktp_spatial.calls": (agg("ktp_spatial", "calls"), "count"),
            "ktp_spatial.cache_hit_ratio": (median(hit["ktp_spatial"]),
                                            "ratio"),
            "pandas_ktp.post_chain.s": (agg("pandas_ktp.post_chain"), "s"),
            "pandas_ktp.nik.s": (agg("pandas_ktp.nik"), "s"),
            "sim_core.s": (agg("sim_core"), "s"),
            "sim_core.is_job.s": (agg("sim_core.is_job"), "s"),
            "sim_core.is_job.calls": (agg("sim_core.is_job", "calls"),
                                      "count"),
            "sim_core.cache_hit_ratio": (median(hit["sim_core"]), "ratio"),
            "fuzzy.extract_one.s": (agg("fuzzy.extract_one"), "s"),
            "fuzzy.extract_one.calls": (agg("fuzzy.extract_one", "calls"),
                                        "count"),
            "fuzzy.cache_hit_ratio": (median(hit["fuzzy"]), "ratio"),
        }


def task_stats(spark, group: str) -> tuple[int, float]:
    """(task count, max/median task duration of the busiest stage) over
    the jobs of a job group, from the Spark driver's status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    n_tasks, best = 0, (0.0, 0.0)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else []):
            st = tracker.getStageInfo(stage_id)
            if st is None:
                continue
            n_tasks += st.numTasks
            tl = store.taskList(stage_id, st.currentAttemptId, 100000)
            durs = []
            for i in range(tl.size()):
                d = tl.apply(i).duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            if durs and sum(durs) > best[0]:
                best = (sum(durs), max(durs) / max(median(durs), 1.0))
    return n_tasks, best[1]

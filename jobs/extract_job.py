"""spark-submit application for the extraction pipeline.

The north rule's launch contract (BASELINE.json `north_star`): the
engine runs "via spark-submit --py-files on multi-executor clusters".
This script is the primary resource; the package ships as a zip built
by ``tools/make_pyfiles.py``:

    spark-submit \
        --master <cluster-or-local[N]> \
        --driver-memory 8g \
        --conf spark.driver.extraJavaOptions=-XX:+UseParallelGC \
        --conf spark.executor.extraJavaOptions=-XX:+UseParallelGC \
        --py-files dist/indonesian_id_ocr_service_spark.zip \
        jobs/extract_job.py \
        --input /data/span_corpus --base-dir /data/runs/r1 --run-id r1

Everything master/deploy-mode/JVM-sizing belongs to the submit command
line (a driver JVM cannot re-set its own -Xmx/GC after launch — see
session.py for why ParallelGC matters on this kernel); this script only
applies session-level SQL confs and runs the resumable
``ExtractionRun`` over the input. Re-submitting the identical command
after a crash resumes from the bucket commit log: already-committed
buckets are skipped, partials are overwritten (sinks/lineage.py).

Prints exactly one JSON result line on stdout:
``{"run_id", "buckets_run", "buckets_skipped", "rows", "wall_s",
"docs_per_sec"}`` — Spark's own logging goes to stderr, so the line is
machine-parseable from a scheduler.

Reference parity note: this is the batch analog of the reference's
service entry (app.py:92-98, one Waitress process, 4 threads); here a
single submit processes an arbitrarily large corpus partitioned by
hashed doc_id buckets.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _build_submitted_session(app_name: str, shuffle_partitions: int | None):
    """SparkSession for a spark-submit launch: NO ``.master()`` — the
    submit command owns master/deploy-mode — only the engine's SQL/
    Arrow confs (the same set session.build_session applies locally)."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app_name)
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.icu.caseMappings.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(128 * 1024),
    }
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir of the span corpus "
                     "(doc_id, spans, span_geom, span_conf, spans_alt, "
                     "alt_geom)")
    def _positive_int(v: str) -> int:
        n = int(v)
        if n < 1:
            raise argparse.ArgumentTypeError(
                f"--synth needs N >= 1, got {n}")
        return n

    src.add_argument("--synth", type=_positive_int, metavar="N",
                     help="generate an N-doc deterministic corpus on "
                     "the executors instead of reading parquet "
                     "(tests/bench; no external data)")
    p.add_argument("--seed", type=int, default=42,
                   help="corpus seed for --synth")
    p.add_argument("--base-dir", required=True,
                   help="run output root: results/ metrics/ "
                   "lineage.jsonl")
    p.add_argument("--run-id", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--log-month", default=None,
                   help="YYYY-MM metrics partition (default: current "
                   "UTC month)")
    p.add_argument("--media-metrics", action="store_true",
                   help="also commit the salted media-quality metrics "
                   "branch for the freshly processed buckets")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--app-name", default="idocr-extract")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    spark = _build_submitted_session(args.app_name,
                                     args.shuffle_partitions)

    # Package imports AFTER the session exists: under spark-submit the
    # zip from --py-files is already on sys.path for the driver and is
    # shipped to executors automatically.
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline
    from indonesian_id_ocr_service_spark.queries import ensure_session_conf
    from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

    ensure_session_conf(spark)
    if args.synth is not None:
        from indonesian_id_ocr_service_spark.corpus.generator import corpus_df
        src = corpus_df(spark, args.synth, seed=args.seed)
    else:
        src = spark.read.parquet(args.input)

    metrics_fn = None
    if args.media_metrics:
        from indonesian_id_ocr_service_spark.operators.media_metrics import (
            media_quality_metrics,
        )
        metrics_fn = media_quality_metrics

    run = ExtractionRun(args.base_dir, args.run_id,
                        n_buckets=args.n_buckets)
    t0 = time.time()
    res = run.process(spark, src, run_pipeline, metrics_fn=metrics_fn,
                      log_month=args.log_month)
    wall = time.time() - t0
    out = {
        "run_id": args.run_id,
        "buckets_run": res["buckets_run"],
        "buckets_skipped": res["buckets_skipped"],
        "rows": res["rows"],
        "wall_s": round(wall, 2),
        "docs_per_sec": round(res["rows"] / wall, 1) if wall > 0 else 0.0,
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

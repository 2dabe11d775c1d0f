"""Repo benchmark: one command per workload, one JSON result line.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics named in BENCHMARK.json; ``--trace 1`` prints its per-layer
metrics. Inputs are generated from ``--seed`` and cached under
``.perfbench/`` in the checkout; outputs are checked on every run and
mismatches are counted in ``failed``. See perfbench/README.md for the
workloads and what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("extract_mixed", "queries")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> dict:
    """Run one workload; return the result object (not yet printed)."""
    package = os.path.join(ROOT, "indonesian_id_ocr_service_spark")
    if not os.path.isdir(package):
        raise SystemExit("perfbench: package sources not found next to "
                         "perfbench/; run from a full checkout")
    from perfbench import host

    sizing = host.size_session(ROOT, WORK)
    from perfbench.common import log

    log(f"host: {sizing}")
    t0 = time.perf_counter()
    if args.workload == "queries":
        from perfbench.queries import Queries

        wl = Queries(args.seed, WORK, sizing["cpus"], ROOT, traced=args.trace)
    else:
        from perfbench.extract import Extraction

        wl = Extraction(args.seed, WORK, sizing["cpus"])
    log(f"inputs and expected outputs ready in "
        f"{time.perf_counter() - t0:.2f}s")
    got = wl.layers() if args.trace else wl.measure(args.seconds)
    got["fail_ratio"] = (wl.failed / max(wl.attempted, 1), "ratio")

    # every metric BENCHMARK.json names for this mode is printed; a layer
    # this workload never enters did no work, so it reads 0
    wanted = spec()["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        value, unit = got.get(m["name"], (0, m["unit"]))
        metrics[m["name"]] = {"value": value, "unit": unit}
    return {"correct": wl.failed == 0, "attempted": max(wl.attempted, 1),
            "failed": wl.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path[:0] = [ROOT]
    from perfbench import host

    host.adopt_orphans()
    # a stopped run unwinds through the finally below, as a failed one does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run(args)
    finally:
        # on every way out: no JVM or Python worker outlives the run
        host.stop_all()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

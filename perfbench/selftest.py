"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json untraced and traced in one process,
at a few hundred documents and sf0.001 tables, and asserts that each run
prints exactly the metrics BENCHMARK.json names for its mode, each with
the unit named there, and that every output check passed.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import extract, host, queries, run  # noqa: E402


def main() -> int:
    host.adopt_orphans()
    try:
        return check()
    finally:
        host.stop_all()


def check() -> int:
    extract.N_DOCS = 256
    extract.REPLAY_DOCS = 32
    queries.SF = 0.001
    spec = run.spec()
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            args = run.parse_args(["--workload", wl, "--seed", "7",
                                   "--seconds", "1", "--trace", str(trace)])
            res = run.run(args)
            print(json.dumps(res), flush=True)
            want = {m["name"]: m["unit"] for m in
                    spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace={trace}: metrics/units differ: "
                                f"{set(got.items()) ^ set(want.items())}")
            if not res["correct"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: {res['failed']} of "
                                f"{res['attempted']} checks failed")
    for p in problems:
        print(f"SELFTEST FAIL {p}", file=sys.stderr)
    print("SELFTEST OK" if not problems else "SELFTEST FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

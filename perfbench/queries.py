"""Query workload: passes over ``bench.py``'s HEADLINE queries on seeded
TPC-H-like tables, one query at a time, with the session cache cleared
between queries as ``bench.py`` does.

Untraced runs time passes over PASS, one query per operator family; the
traced run times one pass over all 38 HEADLINE queries. A full 38-query
pass costs about a minute in a fresh JVM on a 4-core host, which the
benchmark's per-run time budget cannot hold.

Every query's collected result is hashed and compared with the hash of
its DuckDB oracle SQL over the same parquet (``tools/check_oracle.py``'s
canonical row hash), computed once per seed before the session starts
(outside ``setup_s``).
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import host, inputs
from perfbench.common import Window, log, median, start_session, timed

SF = 0.01           # table scale; per-query fixed costs dominate above it
WARMUP = "pricing_summary"
E2E = ("ktp_extraction_e2e", "sim_extraction_e2e")
#: one query per operator family: aggregation, window, set ops, the
#: date-query split, LSH dedup (with its persisted candidate pairs), and
#: the extraction kernel through both e2e queries
PASS = ["pricing_summary", "top1_per_group", "customer_set_ops",
        "date_standard", "minhash_lsh", "dedup_verified", *E2E]


def _check_oracle(root: str):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle

    return check_oracle


def headline(root: str) -> list[str]:
    sys.path.insert(0, root)
    import bench

    return list(bench.HEADLINE)


class Queries:
    def __init__(self, seed: int, work: str, cpus: int, root: str,
                 traced: bool):
        self.work, self.cpus = work, cpus
        self.co = _check_oracle(root)
        self.headline = headline(root)
        self.names = self.headline if traced else PASS
        self.tables = inputs.make_tables(
            os.path.join(work, "inputs", f"tables_s{seed}_sf{SF}"), seed, SF)
        self.hashes = self._oracle_hashes()
        self.attempted = 0
        self.failed = 0
        self.leaked: list[str] = []
        self.instr_s = 0.0      # time spent counting persisted relations
        self.tree = host.ProcTree()
        self.spark = None
        import __spark_entry__

        self.fns = __spark_entry__.queries()

    def _oracle_hashes(self) -> dict[str, str]:
        path = os.path.join(self.tables, "duckdb_hashes.json")
        out: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as f:
                out = json.load(f)
        if all(n in out for n in self.names):
            return out
        import duckdb

        import __spark_entry__

        sqls = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.co.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.tables}/{t}.parquet')")
            for name in (n for n in self.names if n not in out):
                res = con.execute(sqls[name])
                cols = [c[0].lower() for c in res.description]
                out[name] = self.co._hash_rows(cols, res.fetchall())
        finally:
            con.close()
        with open(path, "w") as f:
            json.dump(out, f)
        return out

    def run_query(self, name: str) -> float:
        """Clear the cache, run and collect one query (timed), count the
        relations it left persisted, then check its hash."""
        self.spark.catalog.clearCache()
        before = self._persisted()
        self.attempted += 1
        try:
            rows, wall, _ = timed(
                lambda: self._collect(self.fns[name](self.spark,
                                                     self.tables)))
        except Exception as e:  # a query error is a counted failure
            log(f"{name} failed: {e!s:.300}")
            self.failed += 1
            return float("nan")
        self.leaked += [name] * max(0, self._persisted() - before)
        cols, data = rows
        if self.co._hash_rows(cols, data) != self.hashes[name]:
            log(f"{name}: result differs from the DuckDB oracle")
            self.failed += 1
        return wall

    def _persisted(self) -> int:
        t0 = time.perf_counter()
        n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.instr_s += time.perf_counter() - t0
        return n

    @staticmethod
    def _collect(df):
        return [c.lower() for c in df.columns], [tuple(r) for r in
                                                 df.collect()]

    def setup(self) -> float:
        """Seconds of one cold session start through the warm-up query."""
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.cpus)
        t_start = time.perf_counter() - t0
        self.run_query(WARMUP)
        setup_s = time.perf_counter() - t0
        log(f"setup: {setup_s:.2f}s, of which session start {t_start:.2f}s")
        return setup_s

    def one_pass(self) -> tuple[dict[str, float], float, float]:
        """(per-query seconds, pass wall s, pass CPU s). The pass wall is
        the sum of the query times, so result checks are not in it."""
        c0 = self.tree.cpu_s()
        per = {name: self.run_query(name) for name in self.names}
        log(" ".join(f"{n}={t:.2f}" for n, t in per.items()))
        return per, sum(per.values()), self.tree.cpu_s() - c0

    def measure(self, seconds: float) -> dict:
        setup_s = self.setup()
        walls, cpus = [], []
        with Window(self.spark) as w:
            t_end = time.perf_counter() + seconds
            while not walls or time.perf_counter() < t_end:
                per, wall, cpu = self.one_pass()
                walls.append(wall)
                cpus.append(cpu)
                log(f"pass {len(walls)}: {wall:.2f}s wall, {cpu:.1f}s cpu")
        self.spark.stop()
        log(f"host steal {w.steal_pct:.1f}% over the measured passes")
        # the two e2e queries each extract every row of documents.parquet
        docs = len(E2E) * self._n_documents()
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(walls), "s"),
            "docs_per_s": (docs / median(walls), "docs/s"),
            "cpu_s": (median(cpus), "s"),
            "peak_rss_mb": (w.peak_mb, "MB"),
        }

    def _n_documents(self) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(
            os.path.join(self.tables, "documents.parquet")).metadata.num_rows

    def layers(self) -> dict:
        """One traced pass over all HEADLINE queries. Untraced passes run
        the same per-query clocks, so the tracing overhead is the time
        spent counting persisted relations, as a share of the pass."""
        self.setup()
        self.leaked, self.instr_s = [], 0.0
        with Window(self.spark) as w:
            per, wall, _ = self.one_pass()
        self.spark.stop()
        if self.leaked:
            log(f"relations left persisted by: {self.leaked}")
        m = {f"q.{n}.s": (per[n], "s") for n in self.headline}
        m["queries.leaked_cached_relations"] = (len(self.leaked), "count")
        m["tracing.overhead_pct"] = (100 * self.instr_s / wall, "%")
        m["host.steal_pct"] = (w.steal_pct, "%")
        return m

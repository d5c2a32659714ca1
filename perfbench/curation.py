"""Curation workloads: passes of registered LLM-data entries.

``curation_batch`` runs ``data.CURATION_ENTRIES``, ``curation_full`` the
whole curation pass, ``data.CURATION_ALL``. The corpus is the fixed stored
data of ``data.py``; the run's seed orders the entries of a pass. Each
timed entry builds its DataFrame through the registry and runs it into
the ``noop`` sink. Once per run, in the warm-up pass, every entry
is collected and compared with its registered DuckDB oracle over the same
corpus.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import data
from perfbench.oracle import duckdb_con, report_failed, result_digest

CORPUS = ("documents", "embeddings")


class CurationBatch:
    name = "curation_batch"
    entries = data.CURATION_ENTRIES
    # untimed passes after the checked one: a pass still gets ~30% faster
    # over its first few runs in a process (JIT), and the median of the
    # timed passes should not sit on that slope
    warm_passes = 2
    min_cycles = 4

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tr = spark, work_dir, seed, tracer
        from tank_spark.plans.registry import load_all

        self.registry = load_all()
        self.warm_s: dict[str, float] = {}

    def prepare(self, sf_dir: str) -> None:
        """The corpus and each entry's oracle digest (untimed)."""
        data.write_tables(sf_dir)
        self.src_dir = sf_dir
        con = duckdb_con(sf_dir)
        self.expected = {}
        for name in self.entries:
            res = con.execute(self.registry[name].oracle)
            self.expected[name] = result_digest([d[0] for d in res.description],
                                                res.fetchall())
        con.close()

    def setup_round(self, d: str) -> None:
        """A fresh copy of the corpus -> the session-cached relations the
        entries read (the cache is keyed by directory)."""
        from tank_spark.sources.tables import load

        shutil.copytree(self.src_dir, d)
        for t in CORPUS:
            load(self.spark, d, t).count()
        self.sf_dir = d

    def start(self) -> None:
        pass

    def cycles(self):
        return data.curation_cycles(self.seed, self.entries)

    def warm_up(self, cycle: list[dict], traced: bool = False) -> tuple[int, int]:
        """Every entry once, collected and compared with its oracle, then
        ``warm_passes`` untimed passes."""
        failed = 0
        for req in cycle:
            name = req["op"]
            t = time.perf_counter()
            df = self.registry[name].spark(self.spark, self.sf_dir)
            rows = df.collect()
            self.warm_s[name] = time.perf_counter() - t
            if result_digest(df.columns, rows) != self.expected[name]:
                failed += 1
                report_failed(req)
        for _ in range(self.warm_passes):
            for req in cycle:
                self.call(req)
        return len(cycle), failed

    def call(self, req: dict):
        build = lambda: self.registry[req["op"]].spark(self.spark, self.sf_dir)  # noqa: E731
        if not self.tr.enabled:
            return build().write.mode("overwrite").format("noop").save(), lambda: True
        with self.tr.span("build"):
            df = build()
        with self.tr.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tr.span("exec"):
            df.write.mode("overwrite").format("noop").save()
        return None, lambda: True

    def probe_source(self) -> None:
        """The source call every entry makes: the session-cached corpus."""
        from tank_spark.sources.tables import load

        with self.tr.span("sources.read"):
            for t in CORPUS:
                load(self.spark, self.sf_dir, t)

    def layer_stats(self) -> dict[str, float]:
        files = [f"{self.sf_dir}/{t}.parquet" for t in CORPUS]
        return {
            "table.files": len(files),
            "table.bytes_per_row": (sum(os.path.getsize(f) for f in files)
                                    / (data.N_DOCS + data.N_VECS)),
        }


class CurationFull(CurationBatch):
    name = "curation_full"
    entries = data.CURATION_ALL
    warm_passes = 0
    min_cycles = 1

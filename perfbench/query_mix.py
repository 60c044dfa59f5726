"""``query_mix``: a fixed list of registry queries over seeded parquet
tables, each written to the ``noop`` sink, ``clearCache`` outside the
timer. One pass runs every query once, in list order.

The untimed warm-up pass collects every query's output over the measured
tables; after the timed passes, each is compared with the query's DuckDB
oracle SQL over the same tables (row count, column names and
order-insensitive values). Checking the warm-up outputs costs no extra
Spark pass.
"""

from __future__ import annotations

import os
import shutil
import time

import tablegen
from common import JobCounter, median, typical_pass_s

#: registry query → module whose operators it exercises: the cheapest
#: query of each kind, so that a run (whose first pass over each query is
#: JIT-cold) fits the benchmark's time budget. q02 and q05 run the nest
#: and harmonize operators that study_etl also runs, over parquet instead
#: of CSV; q104 also reads through ``storage``. No similarity query fits:
#: the cheapest (q89) costs 2.5 s warm and 4.4 s cold at any input size.
QUERIES = {
    "q01": "operators.relational",
    "q02": "operators.relational",
    "q05": "operators.relational",
    "q24": "operators.dedup",
    "q104": "operators.text",
    "q85": "streaming",
    "q105": "cdc",
}
#: scale of the measured tables: the scale of the fixture the registry's
#: oracle parity is verified at
SF = 0.01
#: the timed operations of one pass
PASS_OPS = [f"query.{q}" for q in QUERIES]


def _registry_names() -> dict[str, str]:
    from ncpi_whistler_spark.queries import REGISTRY

    by_prefix = {name.split("_", 1)[0]: name for name in REGISTRY}
    return {q: by_prefix[q] for q in QUERIES}


class _Collected:
    """A query's output collected once, in the shape ``compare`` reads."""

    def __init__(self, df):
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self):
        return self.rows


class Workload:
    name = "query_mix"

    def __init__(self, work: str, tracer):
        self.work = work
        self.tracer = tracer
        self.problems: list[str] = []
        self.pass_s: list[float] = []
        self.jobs_per_pass: list[int] = []

    def generate(self, spark, seed: int) -> None:
        self.names = _registry_names()
        self.data_dir = os.path.join(self.work, "tables")
        shutil.rmtree(self.data_dir, ignore_errors=True)
        tablegen.write_tables(self.data_dir, seed, SF)

    def warmup(self, spark) -> None:
        from ncpi_whistler_spark.queries import REGISTRY

        # the timed passes write to the noop sink; warm its write path too
        spark.range(1).write.format("noop").mode("overwrite").save()
        self.warm_outputs = {}
        for name in self.names.values():
            spark.catalog.clearCache()
            self.warm_outputs[name] = _Collected(REGISTRY[name][0](spark, self.data_dir))

    def run_pass(self, spark) -> tuple[int, int]:
        from ncpi_whistler_spark.queries import REGISTRY

        jobs = JobCounter(spark)
        tag = f"query_mix@{len(self.pass_s)}"
        failed = 0
        t_pass = 0.0
        with jobs.group(tag):
            for q, name in self.names.items():
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"query.{q}", QUERIES[q]):
                        REGISTRY[name][0](spark, self.data_dir).write.format(
                            "noop").mode("overwrite").save()
                except Exception as exc:  # a failed query is a failed operation
                    self.problems.append(f"{name}: {type(exc).__name__}: {exc}")
                    failed += 1
                t_pass += time.perf_counter() - t0
        self.pass_s.append(t_pass)
        self.jobs_per_pass.append(jobs.counts(tag)[0])
        return len(self.names), failed

    def final_check(self, spark) -> tuple[int, int]:
        """Every warm-up output against its DuckDB oracle."""
        import duckdb

        from ncpi_whistler_spark.queries import REGISTRY
        from tools.parity import compare

        con = duckdb.connect()
        try:
            for t in tablegen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(self.data_dir, t + '.parquet')}')")
            failed = 0
            for name, output in self.warm_outputs.items():
                cur = con.execute(REGISTRY[name][1])
                rows = cur.fetchall()
                problems = compare(name, output, rows, [d[0] for d in cur.description])
                if problems:
                    self.problems.append(f"{name} differs from its oracle: {problems}")
                    failed += 1
        finally:
            con.close()
        return len(self.names), failed

    def _query_times(self) -> list[float]:
        return [t for q in self.names for t in self.tracer.timings.get(f"query.{q}", [])]

    def headline(self) -> dict[str, tuple[float, str]]:
        return {
            "query_mix_s": (typical_pass_s(self.tracer, PASS_OPS), "s"),
            "query_p50_s": (median(self._query_times()), "s"),
        }

    def layer_metrics(self) -> dict[str, float]:
        per_query = {q: median(self.tracer.timings.get(f"query.{q}", [])) for q in self.names}
        out = {f"query.{q}_s": t for q, t in per_query.items()}
        for q, module in QUERIES.items():
            key = f"{module}_s"
            out[key] = out.get(key, 0.0) + per_query[q]
        out["query.p50_s"] = median(self._query_times())
        out["query.jobs"] = median(self.jobs_per_pass)
        return out

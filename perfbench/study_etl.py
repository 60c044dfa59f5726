"""``study_etl``: the reference's own job — the ``play`` pipeline without
the load step — over a seeded synthetic study.

One pass: ``extract_dataset`` → tables written as parquet → the play
job's resource union (``cli._generate_resources``: resource builders,
custom projectors, ``resources_to_json``) written module-partitioned →
``prepare_bundle_entries`` + ``write_bundles`` → ``run_inspections`` +
``module_summary``. Each stage
is one timed operation. After the pass (outside its timing) the outputs
are checked against counts derived from the generator.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import studygen
from common import JobCounter, dir_bytes, median, typical_pass_s

#: participants in the measured study
PARTICIPANTS = 2000

STAGES = [
    ("plans.extract_plan", "plans"),
    ("plans.extract_write", "plans"),
    ("plans.resources", "plans"),
    ("sinks.bundle", "sinks"),
    ("operators.inspector", "operators"),
]
#: the timed operations of one pass
PASS_OPS = [name for name, _layer in STAGES]


class Workload:
    name = "study_etl"

    def __init__(self, work: str, tracer):
        self.work = work
        self.tracer = tracer
        self.pass_s: list[float] = []
        self.problems: list[str] = []
        self.counters: dict[str, float] = {}

    def generate(self, spark, seed: int) -> None:
        from ncpi_whistler_spark.plans.config import StudyConfig

        study_dir = os.path.join(self.work, "study")
        shutil.rmtree(study_dir, ignore_errors=True)
        self.cfg = StudyConfig.from_yaml(
            studygen.write_study(study_dir, seed, PARTICIPANTS))

    def final_check(self, spark) -> tuple[int, int]:
        return 0, 0

    def warmup(self, spark) -> None:
        """One untimed pass over the measured study: the timed passes run
        the same plans with a warm JIT."""
        self._pass(spark, record=False)

    def run_pass(self, spark) -> tuple[int, int]:
        return self._pass(spark, record=True)

    def _pass(self, spark, record: bool) -> tuple[int, int]:
        from ncpi_whistler_spark.cli import _generate_resources
        from ncpi_whistler_spark.operators.inspector import module_summary, run_inspections
        from ncpi_whistler_spark.plans.pipeline import extract_dataset
        from ncpi_whistler_spark.sinks.bundle import prepare_bundle_entries, write_bundles

        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        tables_dir = os.path.join(out, "tables")
        res_dir = os.path.join(out, "resources")
        bundles_dir = os.path.join(out, "bundles")
        jobs = JobCounter(spark)
        tag = f"@{len(self.pass_s)}" if record else "@warmup"

        @contextmanager
        def stage(i: int):
            name, layer = STAGES[i]
            with jobs.group(name + tag):
                if record:
                    with self.tracer.span(name, layer):
                        yield
                else:
                    yield

        t0 = time.perf_counter()
        with stage(0):
            ds = extract_dataset(spark, self.cfg)
        with stage(1):
            for tname, df in ds.tables.items():
                df.write.mode("overwrite").parquet(os.path.join(tables_dir, tname))
        with stage(2):
            # the play job's own resource union; it builds its own extract plan
            _generate_resources(spark, self.cfg).write.mode("overwrite").partitionBy(
                "module").parquet(res_dir)
        with stage(3):
            res = spark.read.parquet(res_dir)
            write_bundles(prepare_bundle_entries(res), bundles_dir)
        with stage(4):
            checks = run_inspections(res)
            summary = module_summary(res).collect()
        elapsed = time.perf_counter() - t0

        failed = self._check(checks, summary, bundles_dir,
                             studygen.expected_resources(PARTICIPANTS))
        if record:
            self.pass_s.append(elapsed)
            for name, _layer in STAGES:
                n_jobs, n_tasks = jobs.counts(name + tag)
                self.counters[f"{name}.jobs"] = n_jobs
                self.counters[f"{name}.tasks"] = n_tasks
            self.counters["etl.resources_out"] = sum(r["n"] for r in summary)
            self.counters["etl.bytes_written"] = (
                dir_bytes(tables_dir) + dir_bytes(res_dir) + dir_bytes(bundles_dir))
            self.counters["sinks.bundle_files"] = sum(
                1 for _r, _d, fs in os.walk(bundles_dir)
                for f in fs if f.endswith(".json"))
        return len(STAGES), failed

    def _check(self, checks, summary, bundles_dir, expected) -> int:
        """Counts each failed check as one failed operation."""
        failed = 0
        got: dict[str, int] = {}
        for r in summary:
            got[r["resourceType"]] = got.get(r["resourceType"], 0) + r["n"]
        if got != expected:
            self.problems.append(f"resource counts {got} != expected {expected}")
            failed += 1
        if any(checks.values()):
            self.problems.append(f"inspection violations {checks}")
            failed += 1
        entries = 0
        for root, _dirs, files in os.walk(bundles_dir):
            for f in files:
                if f.endswith(".json"):
                    with open(os.path.join(root, f), "rb") as fh:
                        entries += sum(1 for _ in fh)
        # every generated resource has its own fullUrl (distinct
        # identifiers, or distinct JSON for identifier-less DD resources)
        if entries != sum(expected.values()):
            self.problems.append(
                f"bundle entries {entries} != distinct fullUrls {sum(expected.values())}")
            failed += 1
        return failed

    def headline(self) -> dict[str, tuple[float, str]]:
        return {"etl_s": (typical_pass_s(self.tracer, PASS_OPS), "s")}

    def layer_metrics(self) -> dict[str, float]:
        out = {f"{name}_s": median(self.tracer.timings.get(name, [])) for name, _l in STAGES}
        out.update(self.counters)
        return out


"""Shared machinery of the benchmark: pinned environment, Spark session,
timing and tracing, Spark job/task counts and peak memory.

Nothing here imports pyspark at module scope, so :func:`pin_environment`
can fix the environment before the JVM starts.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

#: cores the run may use (honours CPU affinity, not the host's core count)
NPROC = len(os.sched_getaffinity(0))
#: driver JVM heap; the engine's own default (32g) exceeds small hosts
DRIVER_MEM = "3g"

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)


def pin_environment(work: str) -> dict[str, str]:
    """Fix every setting the measurements depend on; returns the record
    printed with each run. Must run before the first pyspark import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pythonpath = os.pathsep.join([REPO_ROOT, BENCH_DIR])
    env = {
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Spark's Python workers import the engine
        "PYTHONPATH": pythonpath,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONHASHSEED": "0",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    for p in (REPO_ROOT, BENCH_DIR):
        if p not in sys.path:
            sys.path.insert(0, p)
    return env


def start_session(work: str):
    """``local[NPROC]`` engine session with shuffle partitions = NPROC and
    every Spark-side scratch path inside ``work`` (block manager files
    follow ``SPARK_LOCAL_DIRS``)."""
    from ncpi_whistler_spark import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf={
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": (
                f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
        },
    )


class Tracer:
    """Timings of the benchmark's calls into the engine, plus (when
    enabled) a span per call: name, layer, start, end, parent span and
    run id. Spans stay in memory until :meth:`write`.

    ``timings`` is always filled: end-to-end metrics come from it, so
    the untraced run pays only a ``perf_counter`` pair per call."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.timings: dict[str, list[float]] = {}
        self._stack: list[int] = []
        #: time spent recording spans (the tracer's own cost)
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str):
        rec = None
        if self.enabled:
            b0 = time.perf_counter()
            rec = {
                "id": len(self.spans),
                "parent": self._stack[-1] if self._stack else None,
                "name": name,
                "layer": layer,
                "run": self.run_id,
                "start": time.monotonic(),
                "end": None,
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
            self.bookkeeping_s += time.perf_counter() - b0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            self.timings.setdefault(name, []).append(time.perf_counter() - t0)
            if rec is not None:
                rec["end"] = time.monotonic()
                self._stack.pop()

    def self_time_by_layer(self, first: int = 0) -> dict[str, float]:
        """Per layer, over the spans from index ``first`` on: span
        duration minus the part of it that child spans cover (overlapping
        children counted once)."""
        spans = self.spans[first:]
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


class JobCounter:
    """Spark jobs and tasks run under one job group, read from
    ``SparkContext.statusTracker``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, name: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = tracker.getStageInfo(stage)
                if st is not None:
                    tasks += st.numCompletedTasks
        return len(jobs), tasks


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def typical_pass_s(tracer: Tracer, ops: list[str]) -> float:
    """A pass's time assembled from the median of each of its timed
    operations over the run's passes: a slow moment that hits one
    operation in one pass does not move it."""
    return sum(median(tracer.timings.get(op, [])) for op in ops)


def cpu_ms() -> float:
    """Median time of a fixed single-threaded Python loop, in ms: the
    host's speed at the moment. Printed next to the pass times, so that
    a run on a slowed host can be told apart from slow code."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i * i % 7
        times.append(time.perf_counter() - t0)
    return 1000.0 * statistics.median(times)


def _children(pid: int) -> list[int]:
    """Child processes forked by any thread of ``pid``."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants() -> set[int]:
    """This process and every live descendant: the driver JVM and
    Spark's Python workers."""
    seen: set[int] = set()
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(_children(pid))
    return seen


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # the state follows the parenthesised command name
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant. Peaks of different processes need not coincide, so
    this bounds the joint peak from above."""
    return sum(_vm_hwm_kb(p) for p in _descendants()) / 1024.0


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and Spark's
    Python workers have exited, so that no process outlives the run."""
    gateway = spark.sparkContext._gateway
    others = _descendants() - {os.getpid()}
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in others) and time.monotonic() < deadline:
        time.sleep(0.05)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total

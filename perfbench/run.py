"""Benchmark entry point.

    python3 perfbench/run.py --workload study_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Sets up once (session start, seeded input
generation, one untimed warm-up pass over the same inputs), runs passes of
the workload for ``--seconds`` (at least ``MIN_PASSES``), checks every
output, and prints one line per headline metric followed by a JSON object
as the last line of standard output: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Exits non-zero when an output check fails or the engine is
not in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ["study_etl", "query_mix"]
#: a study_etl pass takes most of ``--seconds``; three passes give every
#: stage a median that one slow pass cannot move
MIN_PASSES = 3


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(common.REPO_ROOT, "ncpi_whistler_spark", "__init__.py")):
        print("perfbench: ncpi_whistler_spark/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(common.REPO_ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-pid{os.getpid()}"
    work = os.path.join(common.REPO_ROOT, ".perfbench", "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    env = common.pin_environment(work)
    tracer = common.Tracer(enabled=bool(args.trace), run_id=run_id)
    module = importlib.import_module(args.workload)
    wl = module.Workload(work, tracer)
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start", "session"):
            spark = common.start_session(work)
        t1 = time.perf_counter()
        with tracer.span("setup.generate", "setup"):
            wl.generate(spark, args.seed)
        t2 = time.perf_counter()
        with tracer.span("setup.warmup", "setup"):
            wl.warmup(spark)
        t3 = time.perf_counter()
        setup = {"session.start_s": t1 - t0, "setup.generate_s": t2 - t1,
                 "setup.warmup_s": t3 - t2}

        cpu = [common.cpu_ms()]
        attempted = failed = 0
        traced: list[bool] = []
        first_pass_span = len(tracer.spans)
        deadline = time.perf_counter() + args.seconds
        while len(traced) < MIN_PASSES or time.perf_counter() < deadline:
            tracer.enabled = bool(args.trace) and len(traced) % 2 == 0
            tracer.run_id = f"{run_id}/pass{len(traced)}"
            with tracer.span("pass", "bench"):
                a, f = wl.run_pass(spark)
            traced.append(tracer.enabled)
            attempted += a
            failed += f
        tracer.enabled = bool(args.trace)
        cpu.append(common.cpu_ms())
        t4 = time.perf_counter()
        a, f = wl.final_check(spark)
        check_s = time.perf_counter() - t4
        attempted += a
        failed += f
        rss = common.peak_rss_mb()
    finally:
        if spark is not None:
            common.stop_session(spark)

    correct = failed == 0 and not wl.problems
    for p in wl.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    setup_s = t3 - t0
    print(f"# {args.workload} seed={args.seed} attempted={attempted} failed={failed} "
          f"passes_s={[round(t, 3) for t in wl.pass_s]} check_s={check_s:.3f} "
          f"cpu_ms={[round(c, 2) for c in cpu]} "
          f"wall_s={time.perf_counter() - t_start:.1f}")
    print(f"# env {json.dumps(env, sort_keys=True)}")
    headline = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss, "MB"),
                "error_rate": (failed / attempted, "ratio"), **wl.headline()}
    for name, (value, unit) in headline.items():
        print(f"{name} = {value:.6g} {unit}")

    if args.trace:
        values = dict(setup)
        values["peak_rss_mb"] = rss
        values["host.cpu_ms"] = common.median(cpu)
        values.update(wl.layer_metrics())
        on = [t for tr, t in zip(traced, wl.pass_s) if tr]
        off = [t for tr, t in zip(traced, wl.pass_s) if not tr]
        values["trace.overhead_pct"] = (
            100.0 * (common.median(on) - common.median(off)) / common.median(off))
        values["trace.bookkeeping_s"] = tracer.bookkeeping_s / len(on)
        for layer, secs in tracer.self_time_by_layer(first_pass_span).items():
            values[f"self.{layer}_s"] = secs / len(on)
        for name, value in values.items():
            print(f"  {name} = {value:.6g}")
        tracer.write(os.path.join(common.REPO_ROOT, ".perfbench", "traces", f"{run_id}.json"))
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": common.typical_pass_s(tracer, module.PASS_OPS),
            "success_rate": 1.0 - failed / attempted,
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

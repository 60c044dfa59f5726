"""Round-12 optimization measurement harness.

Isolated per-query timing + physical-plan capture (guide §1: measure
first, noop sink, labeled jobs). Unlike bench.py (which times the whole
registry in sequence), this runs a chosen subset with per-query
isolation so before/after numbers for one optimization are not polluted
by neighbors' GC/eviction.

Usage:
    python tools/optbench.py q107 q93 ...        # time (min-of-3, sf0.1)
    python tools/optbench.py --plans q107 ...    # also dump explain to plans/r13/
    python tools/optbench.py --suffix after q107 # plans/r13/<q>_after.txt
    python tools/optbench.py --plans-dir plans/r13 ...
    python tools/optbench.py --all               # every registry query

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line {name: sec} to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="qNN prefixes or full names")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--plans", action="store_true", help="dump explain('formatted')")
    ap.add_argument("--suffix", default="before", help="plan file suffix")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans-dir", default="plans/r13")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from ncpi_whistler_spark import get_spark
    from ncpi_whistler_spark.queries import REGISTRY

    names = []
    if args.all:
        names = list(REGISTRY)
    else:
        for q in args.queries:
            full = [n for n in REGISTRY if n == q or n.split("_", 1)[0] == q]
            if not full:
                print(f"unknown query {q!r}", file=sys.stderr)
                return 2
            names.extend(full)

    spark = get_spark(
        app_name="optbench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    sc = spark.sparkContext

    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    if args.repeats < 1:
        ap.error("--repeats must be >= 1")
    # relative to the repo root; an absolute path is kept as given
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), args.plans_dir
    )
    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, float] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        if not args.no_warmup:
            sc.setJobDescription(f"warmup {name}")
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        if args.plans:
            import contextlib
            import io

            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            short = name.split("_", 1)[0]
            with open(
                os.path.join(plans_dir, f"{short}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(f"# {name} @ {sf_dir}\n")
                fh.write(buf.getvalue())
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        best = None
        reps = []
        for rep in range(args.repeats):
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            secs = time.perf_counter() - t0
            reps.append(round(secs, 3))
            best = secs if best is None else min(best, secs)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]} reps={reps}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 20 --trace 0

Run from the root of the checkout to measure: the package is imported from
the working directory, the benchmark from wherever this file lives, so
``ab.py`` can run one copy of the benchmark against two checkouts. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). The
lines before it give each timing's sample count, quartiles and tail. The
exit code is 0 only when every output check passed. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.getcwd()
BENCH_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"


def _environment(work: str) -> dict[str, str]:
    """Session settings: all cores, a C1-only JIT, and every temporary file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = tmp
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # C1 only: in a one-minute run the C2 compiler keeps about one of the
        # cores busy at moments that differ from run to run, and no run lasts
        # long enough to reach its steady state; with C1 alone a warm call
        # takes the same time from the first pass on
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
    }


def _table(e2e: dict, samples: dict, units: dict) -> list[str]:
    from perfbench.stats import summarize

    lines = [f"{'metric':<20} {'unit':<6} {'value':>12} {'n':>5} {'q1':>10} {'q3':>10} {'iqr':>10}  tail"]
    for name, value in e2e.items():
        s = summarize(samples[name]) if samples.get(name) else {"n": 1}
        tail = next((f"{k}={v:.4g}" for k, v in s.items() if k.startswith("p")), "-")
        lines.append(
            f"{name:<20} {units[name]:<6} {value:>12.6g} {s['n']:>5} "
            f"{s.get('q1', value):>10.4g} {s.get('q3', value):>10.4g} {s.get('iqr', 0):>10.4g}  {tail}"
        )
        if 1 < len(samples.get(name, ())) <= 20:
            lines.append(f"{'':<20} samples in order: {[round(v, 3) for v in samples[name]]}")
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pyspark_ingestion_spark", "__init__.py")):
        print("perfbench: no pyspark_ingestion_spark package in the working directory",
              file=sys.stderr)
        return 2
    sys.path[:0] = [BENCH_PARENT, ROOT]
    from perfbench import metrics
    from perfbench.procs import RssSampler, stop_spark
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra_conf = _environment(work)
    ctx = None
    e2e, samples, layers = {}, {}, {}
    spark = None
    try:
        # the sampler walks /proc, so only the traced pass, which reports it, pays for it
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            from pyspark_ingestion_spark.session import get_spark_session

            t = time.perf_counter()
            spark = get_spark_session(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf)
            session_s = time.perf_counter() - t
            ctx = Context(spark, args.seed, args.seconds, bool(args.trace), work)
            if ctx.trace:
                from perfbench.tracing import Tracer

                ctx.tracer = Tracer(spark)
            try:
                e2e, samples, layers = WORKLOADS[args.workload](ctx)
            except Exception:
                traceback.print_exc()
                ctx.errors.append(f"workload raised: {traceback.format_exc(limit=1).strip()}")
        if rss is not None:
            layers["peak_rss_mb"] = rss.peak_mb
        layers["setup.session_s"] = session_s
        if ctx.tracer is not None:
            ctx.tracer.close()
            if ctx.tracer.jobs:
                ungrouped, unattributed = ctx.tracer.unattributed()
                layers["spark.jobs_ungrouped"] = ungrouped
                layers["spark.jobs_unattributed"] = unattributed
            os.makedirs(os.path.join(ROOT, OUT_DIR), exist_ok=True)
            ctx.tracer.write(os.path.join(ROOT, OUT_DIR, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {m[0]: m[1] for m in metrics.END_TO_END + metrics.PER_LAYER}
    correct = not ctx.errors and len(e2e) == len(metrics.END_TO_END)
    for err in ctx.errors:
        print(f"ERROR {err}", file=sys.stderr)
    if len(e2e) == len(metrics.END_TO_END):
        for line in _table(e2e, samples, units):
            print(line)
    if args.trace:
        for name, value in sorted(layers.items()):
            print(f"  {name:<40} {value:>12.6g} {units.get(name, '')}")
        chosen = {m[0]: layers.get(m[0], 0.0) for m in metrics.PER_LAYER}
    else:
        chosen = {m[0]: e2e[m[0]] for m in metrics.END_TO_END if m[0] in e2e}
    result = {
        "correct": correct,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Paired A/B of two checkouts with one copy of the benchmark.

    python3 perfbench/ab.py --parent ../parent --change . --workload stream_admission

Copies this ``perfbench/`` into ``<side>/.perfbench_ab/`` on both sides, so
both run the same benchmark code, then runs ``--pairs`` pairs (at least
10). Pair i uses seed ``--seed + i`` on both sides and alternates which
side goes first. Each end-to-end metric gets a verdict by
``stats.ab_decision``: a gain needs 9 of 10 pair wins and medians further
apart than the parent's interquartile distance; a metric whose parent
spread exceeds its bound is ``unresolved``. The last line of standard
output is the JSON summary; the exit code is 1 if any run failed its
checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.metrics import END_TO_END  # noqa: E402
from perfbench.stats import ab_decision  # noqa: E402

AB_DIR = ".perfbench_ab"


def _install(side: str) -> str:
    dest = os.path.join(side, AB_DIR, "perfbench")
    shutil.rmtree(dest, ignore_errors=True)
    shutil.copytree(HERE, dest, ignore=shutil.ignore_patterns("__pycache__", "*.pyc"))
    return os.path.join(dest, "run.py")


def _run(side: str, runner: str, workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, runner, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=side, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{side}: no result (exit {proc.returncode}):\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["exit"] = proc.returncode
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    args = ap.parse_args(argv)
    if args.pairs < 10:
        ap.error("the decision rule needs at least 10 pairs")

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runners = {name: _install(path) for name, path in sides.items()}
    failed = False
    summary = {}
    for workload in args.workload:
        values = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for name in order:
                res = _run(sides[name], runners[name], workload, args.seed + i, args.seconds)
                if not res["correct"] or res["exit"] != 0:
                    failed = True
                values[name].append({k: v["value"] for k, v in res["metrics"].items()})
                print(f"{workload} pair {i} {name}: "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)
        verdicts = {}
        for metric, unit, better, bound in END_TO_END:
            p = [v[metric] for v in values["parent"]]
            c = [v[metric] for v in values["change"]]
            verdicts[metric] = {"unit": unit, **ab_decision(p, c, better, bound)}
            d = verdicts[metric]
            print(f"{workload:<18} {metric:<18} {d['verdict']:<11} parent {d['parent']['median']:.4g} "
                  f"change {d['change']['median']:.4g} {unit} wins {d['wins']}/{d['pairs']}")
        summary[workload] = verdicts
    print(json.dumps({"failed_runs": failed, "workloads": summary}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

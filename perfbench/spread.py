"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload search --seeds 1-10 [--seconds N]
    python3 perfbench/spread.py --workload build --seeds 1-3 --overhead

``--seconds`` defaults to BENCHMARK.json's ``run_seconds``. For every
metric of the runs' result lines it prints the median and the distance
between the first and third quartile as a share of the median, the spread a
metric's bound in BENCHMARK.json is judged against. ``--overhead`` runs each
seed untraced and traced and prints the tracing overhead as seen end to end:
the traced run's ``latency_ms`` and ``items_per_s`` minus the untraced run's.
Runs are sequential; one Spark process at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from stats import iqr_share, median

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict[str, float]:
    """The metrics of one run's result line; raises if the run failed."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed} trace {trace}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    return {k: m["value"] for k, m in json.loads(lines[-1])["metrics"].items()}


def overhead(args) -> None:
    diffs: dict[str, list[float]] = {"latency_ms": [], "items_per_s": []}
    for seed in seeds(args.seeds):
        plain = run_once(args.workload, seed, args.seconds, 0)
        traced = run_once(args.workload, seed, args.seconds, 1)
        for name, vs in diffs.items():
            vs.append(traced[f"trace.{name}"] - plain[name])
        print(f"seed {seed}: " + " ".join(
            f"{name} untraced={plain[name]:.4g} traced={traced['trace.' + name]:.4g}"
            for name in diffs), flush=True)
    print(f"{'traced - untraced':<40}{'median':>14}")
    for name, vs in diffs.items():
        print(f"{name:<40}{median(vs):>14.4f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="traced minus untraced end-to-end numbers per seed")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]
    try:
        if args.overhead:
            overhead(args)
            return 0
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            res = run_once(args.workload, seed, args.seconds, args.trace)
            for name, v in res.items():
                values.setdefault(name, []).append(v)
            print(f"seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in res.items()),
                  flush=True)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1
    print(f"{'metric':<40}{'median':>14}{'iqr/median':>12}")
    for name, vs in values.items():
        mid = median(vs)
        spread = iqr_share(vs) if len(vs) > 1 and mid else float("nan")
        print(f"{name:<40}{mid:>14.4f}{spread:>12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

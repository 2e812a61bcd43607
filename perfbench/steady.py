"""Steadiness report: repeat each workload over seeds and summarise.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--sets 2] [--overhead]

For every end-to-end metric of every workload it prints the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread — the
interquartile distance as a share of the median — next to the metric's
bound from ``BENCHMARK.json``. A spread above a third of the bound marks a
metric as not steady enough; ``setup_s`` is exempt from the spread rule.
With ``--sets 2`` the seeds run twice and the two medians are compared
against the bound. With ``--overhead`` each seed also runs traced, and the
difference of the timed walls is the tracing overhead.

The figures in the repository's older ``BENCH_r*.json`` and
``bench_last.json`` are not baselines for this benchmark: they come from
32- and 8-CPU hosts and sum 48 noop-sink query medians into one number.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    with open(os.path.join(ROOT, ".perfbench_run", workload, "report.json")) as f:
        report = json.load(f)
    return json.loads(lines[-1]), report, wall


def summarise(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    if args.seeds < 2:
        ap.error("--seeds must be at least 2: quartiles need two runs")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = list(range(1, args.seeds + 1))
    print(__doc__.split("\n\n")[-1].strip() + "\n")
    all_ok, walls = True, []
    for wl in args.workloads.split(","):
        medians = []
        for s in range(args.sets):
            values: dict[str, list[float]] = {}
            failed = 0
            for seed in seeds:
                result, report, wall = run_once(wl, seed, bench["run_seconds"], 0)
                walls.append(wall)
                failed += result["failed"] + (not result["correct"])
                for k, v in result["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
                print(f"  {wl} seed {seed}: {wall:.1f} s wall, "
                      + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                      flush=True)
                if args.overhead:
                    _, traced, twall = run_once(wl, seed, bench["run_seconds"], 1)
                    walls.append(twall)
                    print(f"  {wl} seed {seed}: tracing overhead "
                          f"{traced['timed_wall_s'] - report['timed_wall_s']:+.2f} s "
                          f"(timed wall {report['timed_wall_s']:.2f} s untraced, "
                          f"{traced['timed_wall_s']:.2f} s traced)", flush=True)
            print(f"{wl} set {s + 1}: {len(seeds)} runs, {failed} failed operations or checks")
            print(f"  {'metric':14s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
            med_set = {}
            for k, vs in values.items():
                med, q1, q3, spread = summarise(vs)
                med_set[k] = med
                bound = bounds[k]
                ok = k == "setup_s" or spread <= bound / 3
                all_ok &= ok and failed == 0
                print(f"  {k:14s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {bound:6.2f}"
                      + ("" if ok else "  <- spread above a third of the bound"))
            medians.append(med_set)
        if len(medians) == 2:
            print(f"{wl}: second set median vs first")
            for k, m1 in medians[0].items():
                change = (medians[1][k] - m1) / m1
                ok = abs(change) <= bounds[k]
                all_ok &= ok
                print(f"  {k:14s} {change:+8.3%}" + ("" if ok else "  <- beyond the bound"))
    runs = 4 + 22 * len(bench["workloads"])
    print(f"\nmean run wall {statistics.fmean(walls):.1f} s; {runs} runs of this size take "
          f"about {runs * statistics.fmean(walls):.0f} s")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())

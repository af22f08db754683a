#!/usr/bin/env python3
"""Steadiness report: run one workload N times, each with another seed,
and print for every metric its median, quartiles and relative spread
((q3 - q1) / median). Metrics whose spread exceeds a tenth are flagged;
the bounds in BENCHMARK.json are set from this report.

    python3 perfbench/steady.py --workload analytics --runs 10 --seconds 8
    python3 perfbench/steady.py --workload analytics --runs 5 --trace 1
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def report(values_by_metric, flag=0.1):
    rows = []
    for name, vals in sorted(values_by_metric.items()):
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        rows.append((name, med, q1, q3, spread, spread > flag))
    width = max(len(r[0]) for r in rows)
    print(f"{'metric':<{width}}  {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name, med, q1, q3, spread, flagged in rows:
        print(f"{name:<{width}}  {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread:8.3f}{'  <-- moves by more than a tenth' if flagged else ''}")
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
    values, failed = {}, 0
    for i in range(args.runs):
        seed = args.first_seed + i
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {out.returncode})\n"
                  f"{out.stderr[-2000:]}", file=sys.stderr)
            failed += 1
            continue
        res = json.loads(lines[-1])
        failed += 0 if res["correct"] else 1
        summary = ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                            if args.trace == 0)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {summary}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        # the unbounded end-to-end figures of the detail line, for reference
        detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
        for k, v in detail.get("end_to_end", {}).items():
            if k not in res["metrics"]:
                values.setdefault(f"detail.{k}", []).append(v["value"])
    if values:
        report(values)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

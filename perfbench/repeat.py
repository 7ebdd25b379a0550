#!/usr/bin/env python3
"""Repeat the benchmark and summarize its steadiness.

    python3 perfbench/repeat.py [--workloads serve,pipeline] [--runs 10]
                                [--seed0 1] [--seconds S] [--trace-too]

Runs ``run.py`` ``--runs`` times per workload, each with its own seed, and
prints for every metric its median, first and third quartiles
(``statistics.quantiles(values, n=4)``) and spread = (q3 - q1) / median,
next to the bound BENCHMARK.json gives it.  With ``--trace-too`` each seed
is also run traced, and the tracing overhead (traced minus untraced
median of each end-to-end metric) is printed.  Every run's final line is
kept in ``.perfbench/repeat.jsonl``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    detail, last = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    if not last["correct"]:
        print(f"  {workload} seed {seed}: {last['failed']}/{last['attempted']} failed: "
              f"{detail['failures'][:3]}", file=sys.stderr)
    return detail, last


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", help="comma-separated; default: those of BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace-too", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    workloads = args.workloads or ",".join(w["name"] for w in spec["workloads"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    log = open(os.path.join(ROOT, ".perfbench", "repeat.jsonl"), "a")
    for w in workloads.split(","):
        modes = [0, 1] if args.trace_too else [0]
        runs = {m: [] for m in modes}
        for i in range(args.runs):
            for m in modes:
                detail, last = one(w, args.seed0 + i, seconds, m)
                runs[m].append((last, detail))
                log.write(json.dumps({"workload": w, "seed": args.seed0 + i, "trace": m,
                                      "result": last, "detail": detail}) + "\n")
                log.flush()
                print(f"  {w} seed {args.seed0 + i} trace {m}: "
                      + ", ".join(f"{k}={v:.4g}" for k, v in detail["end_to_end"].items()),
                      file=sys.stderr)
        for m in modes:
            print(f"\n{w} ({'traced' if m else 'untraced'}, {args.runs} runs, "
                  f"{sum(not r['correct'] for r, _ in runs[m])} with failures)")
            print(f"  {'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
            for name in runs[m][0][0]["metrics"]:
                vals = [r["metrics"][name]["value"] for r, _ in runs[m]]
                med, q1, q3, spread = summary(vals)
                b = bounds.get(name)
                flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE" if spread >= b else "  >b/3")
                print(f"  {name:32s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} "
                      f"{'' if b is None else b:>6}{flag}")
        if args.trace_too:
            # a traced run prints per-layer metrics; its end-to-end numbers
            # are in its detail record
            print(f"\n{w} tracing overhead (traced minus untraced median)")
            for name in runs[0][0][1]["end_to_end"]:
                off = statistics.median(d["end_to_end"][name] for _, d in runs[0])
                on = statistics.median(d["end_to_end"][name] for _, d in runs[1])
                print(f"  {name:32s} {on - off:+12.4f}  ({(on - off) / off:+.1%})")
    log.close()


if __name__ == "__main__":
    main()

"""Steadiness check: run the benchmark on several seeds per workload and
report, per end-to-end metric, the median, the quartiles and the
interquartile spread as a share of the median, against the metric's bound.

Usage (from the repository root):
    python3 perfbench/steady.py [--runs 10] [--first-seed 1]
        [--workloads cdc_queue,cdc_full_ingest] [--trace]

Runs are sequential (one Spark at a time). The report and each run's
stderr are kept in ``.perfbench/steady/``. With ``--trace``, a traced run
of the first seed follows each workload's runs; it prints the span table,
the per-layer metrics and the tracing overhead (its end-to-end numbers
against the untraced run of the same seed).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(bench: dict, workload: str, seed: int, trace: int) -> dict | None:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    with open(os.path.join(ROOT, ".perfbench", "steady",
                           f"{workload}-{seed}-{trace}.err"), "w") as f:
        f.write(p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
              file=sys.stderr)
        return None
    r = json.loads(lines[-1])
    r["wall_s"] = wall
    r["info"] = lines[:-1]
    return r


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = ([w for w in a.workloads.split(",") if w] if a.workloads
             else [w["name"] for w in bench["workloads"]])
    out_dir = os.path.join(ROOT, ".perfbench", "steady")
    os.makedirs(out_dir, exist_ok=True)
    report = {}
    for w in names:
        results = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            r = run(bench, w, seed, 0)
            if r is None:
                return 1
            results.append(r)
            print(f"{w} seed {seed}: wall {r['wall_s']:.1f} s, correct "
                  f"{r['correct']}, " + ", ".join(
                      f"{k} {v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        rows = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = med
            rows[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                               "spread": (q3 - q1) / med if med else 0.0,
                               "bound": m["bound"], "values": vals}
        report[w] = {"metrics": rows,
                     "correct": all(r["correct"] for r in results),
                     "failed": sum(r["failed"] for r in results),
                     "wall_s": [r["wall_s"] for r in results]}
        if a.trace:
            t = run(bench, w, a.first_seed, 1)
            if t is None:
                return 1
            report[w]["traced"] = t
            print("\n".join(t["info"]))
    stamp = time.strftime("%Y%m%d-%H%M%S")
    with open(os.path.join(out_dir, f"steady-{stamp}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("\n| workload | metric | median | q1 | q3 | spread | bound/3 |")
    print("|---|---|---|---|---|---|---|")
    for w, rep in report.items():
        for name, s in rep["metrics"].items():
            flag = "" if s["spread"] < s["bound"] / 3 else " !"
            print(f"| {w} | {name} | {s['median']:.4g} | {s['q1']:.4g} | "
                  f"{s['q3']:.4g} | {s['spread']:.3f}{flag} | "
                  f"{s['bound'] / 3:.3f} |")
        print(f"| {w} | wall per run (s) | "
              f"{statistics.median(rep['wall_s']):.1f} | | | | |")
    return 0


if __name__ == "__main__":
    sys.exit(main())

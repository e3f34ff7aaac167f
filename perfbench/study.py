#!/usr/bin/env python3
"""Steadiness study of the benchmark.

Runs every workload --runs times untraced, each run with another seed,
exactly as `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0` would be run, and reports each end-to-end metric's median,
quartiles and spread (quartile distance over median). Then runs
--traced traced runs per workload and lists the per-layer counts that
repeat exactly across them, and the tracing overhead on wall_s (traced
trace.wall_s minus the untraced median wall_s).

Usage: python3 perfbench/study.py [--runs 10] [--traced 2] [--first-seed 100]
                                  [--out perfbench/steadiness.json]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    res = json.loads(r.stdout.strip().splitlines()[-1])
    print(f"  {workload} seed={seed} trace={trace} correct={res['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                     if trace == 0 or not k.startswith("pack.")), flush=True)
    return res


def stats(values: list) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return {"median": m, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / m if m else 0.0, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--out", default=str(HERE / "steadiness.json"))
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {"runs": a.runs, "traced_runs": a.traced, "seconds": spec["run_seconds"],
           "workloads": {}}
    worst = 0.0
    for w in (x["name"] for x in spec["workloads"]):
        seeds = range(a.first_seed, a.first_seed + a.runs)
        runs = [one(w, s, spec["run_seconds"], 0) for s in seeds]
        e2e = {k: stats([r["metrics"][k]["value"] for r in runs]) for k in bounds}
        traced = [one(w, s, spec["run_seconds"], 1) for s in seeds[:a.traced]]
        layer = {k: [r["metrics"][k]["value"] for r in traced] for k in traced[0]["metrics"]}
        repeat = sorted(k for k, v in layer.items()
                        if len(set(v)) == 1 and spec_unit(spec, k) == "count")
        vary = {k: v for k, v in layer.items() if k not in repeat}
        out["workloads"][w] = {
            "all_correct": all(r["correct"] for r in runs + traced),
            "end_to_end": e2e,
            "per_layer_counts_repeating": {k: layer[k][0] for k in repeat},
            "per_layer_varying": vary,
            "tracing_overhead_s": statistics.median(layer["trace.wall_s"]) - e2e["wall_s"]["median"],
        }
        for k, s in e2e.items():
            ok = "ok" if s["spread"] <= bounds[k] / 3 or k == "setup_s" else "WIDE"
            print(f"{w:12s} {k:14s} median={s['median']:.4g} q1={s['q1']:.4g} "
                  f"q3={s['q3']:.4g} spread={s['spread']:.3f} bound={bounds[k]} {ok}")
            if k != "setup_s":
                worst = max(worst, s["spread"] / bounds[k])
        print(f"{w:12s} tracing overhead on wall_s: "
              f"{out['workloads'][w]['tracing_overhead_s']:+.3f} s; repeating counts: "
              f"{', '.join(repeat)}")
    Path(a.out).write_text(json.dumps(out, indent=1) + "\n")
    print(f"worst spread / bound: {worst:.3f}; wrote {a.out}")
    return 0


def spec_unit(spec: dict, name: str) -> str:
    return next(m["unit"] for m in spec["per_layer"] if m["name"] == name)


if __name__ == "__main__":
    sys.exit(main())

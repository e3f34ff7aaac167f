#!/usr/bin/env python3
"""Registry sweep on the benchmark harness: one cold pass over every
registered query (or a given list) at one scale, one JSON line per query.

It builds with perfbench's build and runs one pass with perfbench's
`run_pass` under the benchmark's own JVM options (heap included), so a
sweep measures what the benchmark measures. Each line
holds the query's status, its phase times (construct, plan, action), its
Spark job counts (traced passes only) and the order-independent digest
of its result. `--compare DIR` then lists every query whose digest
differs from, or is missing in, an earlier sweep's output.

Usage:
  python3 tools/sweep.py --scale /path/to/sf0.1 --out target/sweep/NAME \\
      [--seed N] [--trace 0|1] [--queries q1,q2,...] \\
      [--compare target/sweep/OTHER]

Writes OUT/sweep.jsonl and OUT/pass.json (the harness's whole report).
"""
import argparse
import json
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
import run  # noqa: E402
from run import build  # noqa: E402

FIELDS = ("status", "error", "wall_s", "construct_s", "plan_s", "action_s",
          "cpu_s", "rows", "digest")


def registry(classpath: list) -> list:
    """Every registered query name, in registry order."""
    cmd = [build.java(), "-cp", ":".join(str(p) for p in classpath),
           "scala.tools.nsc.MainGenericRunner", "-usejavacp", "-e",
           "graft.SparkEntry.allQueries.foreach(q => println(q.name))"]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return [n for n in out.split() if n]


def lines(out: Path) -> dict:
    return {r["name"]: r for r in map(json.loads, (out / "sweep.jsonl").read_text().splitlines())}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--scale", required=True, type=Path, help="directory of the input tables")
    ap.add_argument("--out", required=True, type=Path, help="output directory under target/")
    ap.add_argument("--seed", type=int, default=1, help="seed of the query order")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=1)
    ap.add_argument("--queries", help="comma-separated names (default: every query)")
    ap.add_argument("--compare", type=Path, help="an earlier sweep's output directory")
    a = ap.parse_args()
    out = a.out.resolve()
    if ROOT / "target" not in out.parents:
        ap.error(f"--out must lie under {ROOT / 'target'}")
    built = build.build(run.JAVA_OPTS)
    names = a.queries.split(",") if a.queries else registry(built[0])
    random.Random(a.seed).shuffle(names)
    work = build.target_dir() / "work" / f"sweep-{out.name}"
    t0 = time.monotonic()
    rep = run.run_pass(built, names, a.scale.resolve(), a.trace, work, t0 + 6 * 3600)
    recs = work / "result.json.records.jsonl"
    jobs = ({r["name"]: r for r in map(json.loads, recs.read_text().splitlines())}
            if recs.exists() else {})
    out.mkdir(parents=True, exist_ok=True)
    shutil.copy(work / "result.json", out / "pass.json")
    with open(out / "sweep.jsonl", "w") as f:
        for q in rep["queries"]:
            j = jobs.get(q["name"], {})
            f.write(json.dumps({"name": q["name"], **{k: q[k] for k in FIELDS},
                                "jobs": j.get("jobs"),
                                "construct_jobs": j.get("construct_jobs")}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    failed = [q["name"] for q in rep["queries"] if q["status"] != "ok"]
    print(f"{len(names)} queries in {time.monotonic() - t0:.1f} s, {len(failed)} failed"
          + (f": {','.join(failed)}" if failed else ""))
    if a.compare:
        now, then = lines(out), lines(a.compare.resolve())
        diff = sorted(n for n in now if n not in then or now[n]["digest"] != then[n]["digest"])
        print(f"{len(diff)} digests differ from {a.compare}" +
              "".join(f"\n  {n}" for n in diff))
        return 1 if diff else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Cold, output-checked benchmark of the graft Spark engine.

A run is one cold pass of a workload in a fresh JVM on local[4]: one
client calls the workload's queries serially (closed loop, one call per
query) in an order permuted by --seed, and checks every result's digest
against the goldens in goldens.json. With --trace 0 it reports the
end-to-end metrics; with --trace 1 a traced pass reports the per-layer
metrics. If a pass's timed work is under half of --seconds (a much
faster engine), further passes with further seeded orders run until it is
not, and metrics are medians over passes.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --smoke            every metric present, at sf0.001
  python3 perfbench/run.py --self-test        digests equal under two orders
  python3 perfbench/run.py --record-goldens   rewrite goldens.json
  python3 perfbench/run.py --oracle-check     workload results vs DuckDB

The last line of stdout is one JSON object with keys correct, attempted,
failed and metrics. Inputs are the parquet tables under perfbench/data.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
CORES = 4
SCALE = "sf0.01"
SMOKE_SCALE = "sf0.001"
RUN_LIMIT_S = 170
GOLDENS = HERE / "goldens.json"

# JVM options of every benchmark JVM: no perf-data file under /tmp, and
# the opens Spark 4 on JDK 17 needs outside spark-submit.
JAVA_OPTS = ["-Xmx3g", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Each workload is a fixed list of registered queries; the seed permutes
# only their order. One cold pass at sf0.01 does about 35 s of timed work
# on a 4-core box.
WORKLOADS = {
    # Catalyst planning and execution: scans, joins, aggregates, profiling
    # and binning, a bucketed-table write, batch windows, sessionization
    # and as-of joins, then the same event operators as streams with state
    # stores and watermarks. No tree, MLlib or memoized work.
    "sql_events": [
        "q1_pricing_summary", "q5_region_nation_revenue", "pareto_revenue_deciles",
        "bucketed_q5_region_revenue", "binning_design_lineitem", "risk_flags_lineitem",
        "quantile_bin_totalprice", "scd2_point_in_time_join", "sessionize_native",
        "events_sliding_2h", "funnel_signup_click_purchase", "hll_sliding_users_6h",
        "asof_native_exec", "events_hourly_stream", "interval_join_stream",
        "sessionize_stream", "funnel_stream",
    ],
    # Construction before the final action: level-wise tree fits, an MLlib job chain,
    # and MinHash/LSH dedup whose component queries share memoized,
    # checkpointed chains; plus a count-min sketch over a document stream.
    "train_dedup": [
        "tree_train_confusion", "tree_train_binned_confusion", "tree_path_counts",
        "split_gains_discount", "rf_train_eval", "minhash_lsh_candidates",
        "dedup_clusters_lsh", "dedup_components_bucket", "dedup_components_slice",
        "dedup_drop_components", "dedup_keep_best_components", "exact_dedup_prefix",
        "pack_greedy_docs", "cms_heavy_hitters_stream",
    ],
}

# Seeded MLlib fits whose values are not reproducible across JVMs: the
# check is row count and schema instead of the value digest.
ROWS_ONLY = {"rf_train_eval"}


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def units(trace: int) -> dict:
    return {m["name"]: m["unit"] for m in spec()["per_layer" if trace else "end_to_end"]}


def load_goldens() -> dict:
    return json.loads(GOLDENS.read_text()) if GOLDENS.exists() else {}


def run_pass(built, queries, data, trace, work: Path, deadline: float,
             extra: tuple = ()) -> dict:
    """One fresh JVM over `queries` in the given order; returns its report."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    classpath, cds = built
    cmd = [build.java(), cds, f"-Djava.io.tmpdir={work / 'tmp'}", *JAVA_OPTS,
           "-cp", os.pathsep.join(str(p) for p in classpath), "graftbench.Harness",
           "--data", str(data), "--work", str(work), "--out", str(out),
           "--trace", str(trace), "--cores", str(CORES),
           "--launch-us", str(time.time_ns() // 1000), "--queries", ",".join(queries),
           *extra]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"pass timed out; see {work / 'jvm.log'}")
    if proc.returncode != 0 or not out.exists():
        raise RuntimeError(f"harness exited {proc.returncode}; see {work / 'jvm.log'}")
    return json.loads(out.read_text())


def check(q: dict, golden) -> str:
    """'ok', 'error' (threw) or 'mismatch' (output differs from the golden)."""
    if q["status"] != "ok":
        return "error"
    if golden is None:
        return "mismatch"
    if q["name"] in ROWS_ONLY:
        same = q["rows"] == golden["rows"] and q["schema"] == golden["schema"]
    else:
        same = q["digest"] == golden["digest"]
    return "ok" if same else "mismatch"


def end_to_end(passes: list) -> dict:
    """Medians over passes; wall time only of queries whose output checked."""
    def med(f):
        return statistics.median(f(p) for p in passes)
    ok = [[q for q in p["queries"] if q["check"] == "ok"] for p in passes]
    return {
        "wall_s": statistics.median(sum(q["wall_s"] for q in qs) for qs in ok),
        "cpu_s": med(lambda p: sum(q["cpu_s"] for q in p["queries"])),
        "live_heap_mb": med(lambda p: p["live_heap_mb"]),
        "setup_s": med(lambda p: p["setup_s"]),
        "ok_frac": sum(map(len, ok)) / sum(len(p["queries"]) for p in passes),
    }


def per_layer(passes: list) -> dict:
    """Medians over passes; a pack the workload does not run reads 0.
    queries.p50_s is the median latency of the queries whose output
    checked, pooled over passes; setup.* split setup_s."""
    lat = [q["wall_s"] for p in passes for q in p["queries"] if q["check"] == "ok"]
    layers = [{**p["layers"], "queries.p50_s": statistics.median(lat) if lat else float("nan"),
               **{f"setup.{k}": v for k, v in p["setup_parts"].items()}} for p in passes]
    return {k: statistics.median(x.get(k, 0) for x in layers) for k in units(1)}


def run(workload: str, seed: int, seconds: float, trace: int, scale: str = SCALE) -> dict:
    data = HERE / "data" / scale
    if not (data / "lineitem.parquet").exists():
        raise RuntimeError(f"no input tables under {data}")
    built = build.build(JAVA_OPTS)
    goldens = load_goldens().get(scale, {})
    runs = build.target_dir() / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    deadline = time.monotonic() + RUN_LIMIT_S
    passes, orders, timed = [], [], 0.0
    while not passes or timed < seconds / 2:
        order = list(WORKLOADS[workload])
        random.Random(seed if not passes else f"{seed}/{len(passes)}").shuffle(order)
        tag = f"{workload}-{scale}-s{seed}-t{trace}-{os.getpid()}-{len(passes)}"
        work = build.target_dir() / "work" / tag
        t0 = time.monotonic()
        rep = run_pass(built, order, data, trace, work, deadline)
        rep["pass_s"] = time.monotonic() - t0
        for q in rep["queries"]:
            q["check"] = check(q, goldens.get(q["name"]))
        (work / "result.json").write_text(json.dumps(rep))
        records = work / "result.json.records.jsonl"
        if records.exists():
            recs = [json.loads(x) for x in records.read_text().splitlines()]
            records.write_text("".join(json.dumps({**r, "check": q["check"]}) + "\n"
                                       for r, q in zip(recs, rep["queries"])))
        for f in work.glob("result.json*"):
            shutil.copy(f, runs / f"{tag}.{f.name}")
        shutil.rmtree(work, ignore_errors=True)
        passes.append(rep)
        orders.append(order)
        timed += sum(q["wall_s"] for q in rep["queries"])
        if time.monotonic() + 1.5 * rep["pass_s"] > deadline:
            break
    failed = sum(q["check"] != "ok" for p in passes for q in p["queries"])
    values = per_layer(passes) if trace else end_to_end(passes)
    return {
        "correct": failed == 0,
        "attempted": sum(len(p["queries"]) for p in passes),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units(trace).items()},
        "_passes": passes,
        "_orders": orders,
    }


def summary(workload: str, seed: int, res: dict) -> str:
    """One comment line before the result: seed, orders, sample counts,
    and every failing query with its error class."""
    qs = [q for p in res["_passes"] for q in p["queries"]]
    bad = [f"{q['name']}={q['check']}({q['error']})" for q in qs if q["check"] != "ok"]
    return (f"# workload={workload} seed={seed} passes={len(res['_passes'])} "
            f"latency_samples={len(qs) - len(bad)} "
            f"order={' | '.join(','.join(o) for o in res['_orders'])}"
            + (f" failures={';'.join(bad)}" if bad else ""))


def public(res: dict) -> dict:
    return {k: v for k, v in res.items() if not k.startswith("_")}


def smoke() -> int:
    """Every named metric present with its unit, in both modes, at sf0.001."""
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            res = run(w, 1, 0, trace, scale=SMOKE_SCALE)
            for name, unit in units(trace).items():
                m = res["metrics"].get(name, {})
                if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
                    print(f"FAIL {w} trace={trace}: {name} missing or without unit {unit}")
                    bad += 1
            print(f"{'OK  ' if res['correct'] else 'FAIL'} {w} trace={trace} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            bad += 0 if res["correct"] else 1
    return 1 if bad else 0


def outputs(res: dict) -> dict:
    return {q["name"]: (q["rows"], q["schema"]) if q["name"] in ROWS_ONLY else q["digest"]
            for q in res["_passes"][0]["queries"]}


def self_test() -> int:
    """Each workload under two seeds: every query's output must agree, so
    no result depends on what ran before it."""
    bad = 0
    for w in WORKLOADS:
        a, b = (outputs(run(w, seed, 0, 0)) for seed in (1, 2))
        for name in WORKLOADS[w]:
            ok = a.get(name) is not None and a.get(name) == b.get(name)
            bad += 0 if ok else 1
            print(f"{'OK  ' if ok else 'FAIL'} {w} {name} {a.get(name)} "
                  f"{'==' if ok else '!='} {b.get(name)}")
    return 1 if bad else 0


def record_goldens() -> int:
    """Record every query's digest, row count and schema at both scales,
    each workload under two seeds. A query whose output differs between
    the two orders, or that throws, is reported and not recorded."""
    goldens, bad = {}, 0
    for scale in (SCALE, SMOKE_SCALE):
        g = goldens.setdefault(scale, {})
        for w in WORKLOADS:
            runs = [run(w, seed, 0, 0, scale=scale)["_passes"][0]["queries"] for seed in (1, 2)]
            first = {q["name"]: q for q in runs[0]}
            for q in runs[1]:
                p = first[q["name"]]
                if q["status"] != "ok" or p["status"] != "ok":
                    print(f"ERROR {scale} {w} {q['name']}: {p['error']} {q['error']}")
                elif p["digest"] != q["digest"] and q["name"] not in ROWS_ONLY:
                    print(f"UNSTABLE {scale} {w} {q['name']}: {p['digest']} vs {q['digest']}")
                else:
                    g[q["name"]] = {k: q[k] for k in ("rows", "schema", "digest")}
                    continue
                bad += 1
    GOLDENS.write_text(json.dumps(goldens, indent=1, sort_keys=True) + "\n")
    print(f"wrote {GOLDENS}: {sum(map(len, goldens.values()))} entries, {bad} problems")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=35)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--smoke", action="store_true")
    mode.add_argument("--self-test", action="store_true")
    mode.add_argument("--record-goldens", action="store_true")
    mode.add_argument("--oracle-check", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.smoke or a.self_test or a.record_goldens or a.oracle_check):
        ap.error("--workload is required")
    try:
        if a.smoke:
            return smoke()
        if a.self_test:
            return self_test()
        if a.record_goldens:
            return record_goldens()
        if a.oracle_check:
            import oracle_check
            return oracle_check.main(WORKLOADS, SCALE)
        res = run(a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:  # noqa: BLE001 - any failure: no result line, exit 2
        sys.stderr.write(f"benchmark failed: {e}\n")
        return 2
    print(summary(a.workload, a.seed, res))
    print(json.dumps(public(res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

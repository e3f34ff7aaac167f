#!/usr/bin/env python3
"""Consolidated sf100 value-parity ledger (VERDICT r12 task 1).

Walks every sf100 oracle/parity log produced since round 9, extracts
per-query evidence (green hash parity, measured DuckDB bound, error),
keeps the BEST status per query, and prints:
  - a JSON ledger (target/scale/sf100_ledger.json)
  - the markdown evidence table for SCALE.md
  - the list of registered oracle-backed queries with NO sf100 attempt

Log formats understood:
  - oracle_budget.py lines:  `<name> {"status": ..., "hash_match": ...}`
  - check_parity.py lines:   `OK   <name> (N rows)` / `FAIL <name>: ...`

Only logs produced against target/scale/sf100 are listed here — sf10 /
sf1 ladders (r11_oracle_mid, r12_ann) are deliberately excluded.

Usage: tools/sf100_ledger.py [--json-only]
"""
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = f"{REPO}/target/scale"

# (path, format, round-tag). Order matters: later entries override
# earlier ones for the same query+status class (newest evidence wins).
SF100_LOGS = [
    ("oracle_sf100.out", "parity", "r9"),
    ("parity_mf.out", "parity", "r9"),
    ("parity_stream100.out", "parity", "r9"),
    ("r10_parity_sf100.out", "parity", "r10"),
    ("r10_dedup_oracle.out", "budget", "r10"),
    ("r11_oracle.out", "budget", "r11"),
    ("r11_batch2_oracle.out", "budget", "r11"),
    ("r11_batch3_oracle.out", "budget", "r11"),
    ("r11_span_oracle.out", "budget", "r11"),
    ("r12_oracle.out", "parity", "r12"),
    ("r12_ext_oracle.out", "budget", "r12"),
    ("r12_ext2_oracle.out", "budget", "r12"),
    ("r12_ext3_oracle.out", "budget", "r12"),
    ("r12_ext4_oracle.out", "budget", "r12"),
    ("r13_oracle.out", "budget", "r13"),
    ("r13_oracle2.out", "budget", "r13"),
    ("r13_oracle3.out", "budget", "r13"),
    ("r13_oracle4.out", "budget", "r13"),
    ("r13_oracle5.out", "budget", "r13"),
    ("r14_oracle.out", "budget", "r14"),
    ("r14_oracle2.out", "budget", "r14"),
    ("r14_oracle3.out", "budget", "r14"),
    ("r14_oracle4.out", "budget", "r14"),
    ("r14_oracle5.out", "budget", "r14"),
    ("r14_oracle6.out", "budget", "r14"),
    ("r14_oracle7.out", "budget", "r14"),
    ("r15_oracle.out", "budget", "r15"),
    ("r15_oracle2.out", "budget", "r15"),
    ("r15_oracle3.out", "budget", "r15"),
    ("r15_oracle4.out", "budget", "r15"),
    ("r15_staged.out", "budget", "r15"),
    ("r16_oracle.out", "budget", "r16"),
    ("r16_staged.out", "budget", "r16"),
    ("r16_sweep.out", "budget", "r16"),
    ("oracle_sf100_kmeans.out", "budget", "r18"),
    ("oracle_sf100_staged.out", "budget", "r18"),
    # NOTE: r13_stream_trigger.out (bounded-trigger knob-ON parity) is
    # deliberately NOT a ledger source — it measures trigger-split
    # semantics for the watermarked streams, not the registered
    # (knob-off) query results.
]

STATUS_RANK = {"green": 3, "mismatch": 2, "bound": 1, "bound_disk": 1,
               "error": 1}


def _is_disk_kill(err: str) -> bool:
    e = (err or "").lower()
    return ("no space left" in e or "out of memory" in e
            or "could not allocate" in e or "disk" in e
            or "temp_directory" in e or "offload" in e)


def parse_budget(path, tag, out):
    for line in open(path):
        m = re.match(r"^([a-z0-9_]+) (\{.*\})$", line.strip())
        if not m:
            continue
        name, js = m.group(1), json.loads(m.group(2))
        if js.get("status") == "ok":
            st = "green" if js.get("hash_match") else "mismatch"
        elif js.get("status") == "timeout":
            st = "bound"
        elif _is_disk_kill(js.get("err", "")):
            # DuckDB temp/disk exhaustion is a measured resource BOUND of
            # the oracle engine, not a query failure (VERDICT r14 nit:
            # "error" here was misreadable as failures)
            st = "bound_disk"
        else:
            st = "error"
        rec = {"status": st, "seconds": js.get("seconds"),
               "rows": js.get("rows"), "log": f"{os.path.basename(path)}",
               "round": tag}
        keep(out, name, rec)


def parse_parity(path, tag, out):
    for line in open(path):
        m = re.match(r"^OK\s+([a-z0-9_]+) \((\d+) rows\)", line)
        if m:
            keep(out, m.group(1), {
                "status": "green", "rows": int(m.group(2)),
                "log": os.path.basename(path), "round": tag})
            continue
        m = re.match(r"^FAIL\s+([a-z0-9_]+):", line)
        if m and "no spark result" not in line:
            keep(out, m.group(1), {
                "status": "mismatch", "log": os.path.basename(path),
                "round": tag})


def keep(out, name, rec):
    old = out.get(name)
    if old is None or STATUS_RANK[rec["status"]] >= STATUS_RANK[old["status"]]:
        out[name] = rec


def parse_scale_md(out):
    """Fallback evidence source: the ledger table COMMITTED in SCALE.md.

    Session boxes get recycled and target/ wiped; the markdown table this
    tool last emitted (with per-row provenance — the original log file
    names) is the durable record. Rows here NEVER override live logs —
    they only fill queries with no fresh evidence, keeping their original
    source attribution.
    """
    path = f"{REPO}/SCALE.md"
    if not os.path.exists(path):
        return
    in_table = False
    for line in open(path):
        s = line.strip()
        if s.startswith("| query | sf100 evidence |"):
            in_table = True
            continue
        if in_table and not s.startswith("|"):
            in_table = False
            continue
        if not in_table or s.startswith("|---"):
            continue
        cells = [c.strip() for c in s.strip("|").split("|")]
        if len(cells) != 5:
            continue
        name, ev, sec, rows, src = cells
        base = ev.split(" (")[0]
        if base in ("green", "sliced-green"):
            st = "green"
        elif base == "bound-disk":
            st = "bound_disk"
        elif ev.startswith("bound"):
            st = "bound"
        else:
            continue  # rows-only / untried / error are recomputed, not carried
        if name in out:
            continue
        out[name] = {
            "status": st,
            "seconds": float(sec) if sec and sec != "None" else None,
            "rows": int(rows) if rows and rows != "None" else None,
            # carried rows keep original log attribution but are visibly
            # tagged so a recycled-box claim can't read as a fresh log
            # (ADVICE r14)
            "log": src, "round": "recorded", "carried": True}


def main():
    evidence = {}
    for fname, fmt, tag in SF100_LOGS:
        path = os.path.join(SCALE, fname)
        if not os.path.exists(path):
            continue
        (parse_budget if fmt == "budget" else parse_parity)(path, tag, evidence)
    parse_scale_md(evidence)

    corr = json.load(open(f"{REPO}/CORRECTNESS_r12.json"))
    rows_only = sorted(n for n, v in corr.items()
                       if v.get("err") == "no_oracle")
    # Registry = the CURRENT oracle_sql dump when present (includes
    # queries registered after the last driver correctness run);
    # no-oracle queries stay the CORRECTNESS-declared rows-only set.
    cur = f"{SCALE}/verify_sf100/oracle_sql.json"
    if not os.path.exists(cur):
        cur = f"{SCALE}/verify_r15_sf100/oracle_sql.json"
    if os.path.exists(cur):
        all_queries = sorted(set(corr) | set(json.load(open(cur))))
    else:
        all_queries = sorted(corr.keys())

    ledger = {}
    for q in all_queries:
        if q in evidence:
            ledger[q] = evidence[q]
        elif q in rows_only:
            ledger[q] = {"status": "rows_only",
                         "note": "seeded-MLlib end-state; declared in COVERAGE.md"}
        else:
            ledger[q] = {"status": "untried"}

    with open(f"{SCALE}/sf100_ledger.json", "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)

    counts = {}
    for v in ledger.values():
        counts[v["status"]] = counts.get(v["status"], 0) + 1
    print("# status counts:", json.dumps(counts))
    if "--markdown" in sys.argv:
        emit_markdown(all_queries, ledger)
        return
    if "--json-only" in sys.argv:
        return
    untried = [q for q in all_queries if ledger[q]["status"] == "untried"]
    print(f"# untried ({len(untried)}):")
    for q in untried:
        print(q)


# Queries that are themselves sf100 truth slices of a heavier parent —
# the parent's full oracle is a measured DuckDB bound and the slice
# carries the value-level gate (semantics argument in each scaladoc).
SLICE_OF = {
    "gopher_rules_slice": "gopher_quality_rules",
    "hll_shingles_slice": "hll_distinct_shingles",
    "dedup_components_slice": "dedup_components_bucket",
    "dedup_components_slice10": "dedup_components_bucket",
    "session_duration_slice": "session_duration_profile",
    "gram_novelty_slice": "gram_novelty_sources",
    "dsir_select_slice": "dsir_select_top",
    "dedup_drop_components_slice10": "dedup_drop_components",
    "dedup_keep_best_components_slice10": "dedup_keep_best_components",
    "embedding_near_dup_scaled_slice": "embedding_near_dup_scaled",
    "semantic_dedup_scaled_slice": "semantic_dedup_scaled",
}


def emit_markdown(all_queries, ledger):
    lines = ["| query | sf100 evidence | s (DuckDB) | rows | source |",
             "|---|---|---|---|---|"]
    for q in all_queries:
        v = ledger[q]
        st = v["status"]
        sliced_by = [s for s, p in SLICE_OF.items() if p == q]
        if st == "green":
            ev = "sliced-green" if q in SLICE_OF else "green"
        elif st == "rows_only":
            ev = "rows-only (declared; COVERAGE.md)"
        elif st == "bound_disk":
            ev = "bound-disk"
            if sliced_by:
                ev += f" (slice gate: {', '.join(sliced_by)})"
        elif st == "bound":
            ev = "bound"
            if sliced_by:
                ev += f" (slice gate: {', '.join(sliced_by)})"
        else:
            ev = st  # "error" stays error (ADVICE r14), "untried" stays
        if v.get("carried") and st in ("green", "bound", "bound_disk"):
            ev += " (recorded)"
        sec = v.get("seconds", "")
        rows = v.get("rows", "")
        src = v.get("log", v.get("note", ""))
        lines.append(f"| {q} | {ev} | {sec} | {rows} | {src} |")
    print("\n".join(lines))


if __name__ == "__main__":
    main()

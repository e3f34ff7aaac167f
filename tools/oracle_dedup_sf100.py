#!/usr/bin/env python3
"""sf100 oracle attempt for the heavy dedup family (span_dedup_coverage,
dedup_components_bucket): run each query's DuckDB oracle SQL against the
sf100 rung under a wall-clock budget and compare row counts + content
hash against the Spark result parquet (same canonicalization as
check_parity.py: columns sorted by name, rows sorted, exact values).

These two were the round-9 verdict's "may be intractable in DuckDB"
candidates: both explode per-position rows (8-gram fingerprints over
50M docs; 3-char shingles into 32-permutation MinHash lists, then
fixed-depth min-label connected components). A timeout is recorded as a
MEASURED bound, not silence.

Usage: tools/oracle_dedup_sf100.py <sfDir> <verifyOutDir> [budget_s]
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SFDIR = sys.argv[1] if len(sys.argv) > 1 else f"{REPO}/target/scale/sf100"
OUT = sys.argv[2] if len(sys.argv) > 2 else f"{REPO}/target/scale/verify_dedup_sf100"
BUDGET = int(sys.argv[3]) if len(sys.argv) > 3 else 1800

QUERIES = ["span_dedup_coverage", "dedup_components_bucket"]


def table_glob(t: str) -> str:
    p = f"{SFDIR}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def run_one(name: str, sql: str) -> dict:
    """Child process per query so a timeout can be enforced cleanly."""
    helper = f"""
import duckdb, pandas as pd, hashlib, sys
con = duckdb.connect()
con.execute("SET memory_limit='80GB'")
con.execute("SET temp_directory='{REPO}/target/spark-tmp/duck'")
con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('{table_glob('documents')}')")
df = con.execute({sql!r}).df()
df = df[sorted(df.columns)]
df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
h = hashlib.md5(df.to_csv(index=False, float_format='%.6f').encode()).hexdigest()
print(f"ORACLE_ROWS={{len(df)}} ORACLE_HASH={{h}}")
"""
    t0 = time.time()
    try:
        r = subprocess.run([sys.executable, "-c", helper], timeout=BUDGET,
                           capture_output=True, text=True)
        dt = time.time() - t0
        line = [l for l in r.stdout.splitlines() if l.startswith("ORACLE_ROWS=")]
        if not line:
            return {"status": "error", "seconds": round(dt, 1),
                    "err": (r.stderr or r.stdout)[-500:]}
        rows = int(line[0].split()[0].split("=")[1])
        h = line[0].split()[1].split("=")[1]
        return {"status": "ok", "seconds": round(dt, 1), "rows": rows, "hash": h}
    except subprocess.TimeoutExpired:
        return {"status": "timeout", "seconds": BUDGET}


def spark_side(name: str) -> dict:
    import hashlib
    import pandas as pd
    import pyarrow.parquet as pq
    df = pq.read_table(f"{OUT}/{name}").to_pandas()
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.md5(df.to_csv(index=False, float_format='%.6f').encode()).hexdigest()
    return {"rows": len(df), "hash": h}


def main() -> int:
    oracle_sql = json.load(open(f"{OUT}/oracle_sql.json"))
    results = {}
    for name in QUERIES:
        sp = spark_side(name)
        res = run_one(name, oracle_sql[name])
        res["spark_rows"] = sp["rows"]
        if res.get("status") == "ok":
            res["rows_match"] = res["rows"] == sp["rows"]
            res["hash_match"] = res["hash"] == sp["hash"]
        results[name] = res
        print(name, json.dumps(res), flush=True)
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())

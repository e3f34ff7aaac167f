#!/usr/bin/env python3
"""Budgeted sf100 oracle attempt for arbitrary registered queries: run
each query's DuckDB oracle SQL against the scale rung under a wall-clock
budget and compare row count + content hash against the Spark result
parquet (same canonicalization as check_parity.py: columns sorted by
name, rows sorted, exact values, doubles at %.6f).

Generalizes tools/oracle_dedup_sf100.py (documents-only views) to the
full table set so the text/events/core families can be budget-attempted
too. A timeout is recorded as a MEASURED bound, not silence.

Usage: tools/oracle_budget.py <sfDir> <verifyOutDir> <budget_s> <q1,q2,...>
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SFDIR = sys.argv[1]
OUT = sys.argv[2]
BUDGET = int(sys.argv[3])
QUERIES = sys.argv[4].split(",")

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def table_glob(t: str) -> str:
    p = f"{SFDIR}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def run_one(name: str, sql: str) -> dict:
    """Child process per query so a timeout can be enforced cleanly."""
    views = "\n".join(
        f"con.execute(\"CREATE VIEW {t} AS SELECT * FROM "
        f"read_parquet('{table_glob(t)}')\")"
        for t in TABLES if os.path.exists(f"{SFDIR}/{t}.parquet"))
    helper = f"""
import duckdb, pandas as pd, hashlib, sys
con = duckdb.connect()
con.execute("SET memory_limit='80GB'")
con.execute("SET temp_directory='{REPO}/target/spark-tmp/duck'")
{views}
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
    import pandas as pd  # noqa: F401  (to_pandas needs it loaded)
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
        try:
            sp = spark_side(name)
        except Exception as e:  # missing/corrupt spark result: record, keep going
            res = {"status": "no_spark_result", "err": str(e)[:300]}
            results[name] = res
            print(name, json.dumps(res), flush=True)
            continue
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

"""Cross-check of the goldens against the DuckDB oracle.

Dumps every workload query's Spark result as parquet (harness --dump),
runs the query's oracle SQL (`SparkEntry.oracleSql`, written next to the
dump) in DuckDB over the same tables, and compares: columns sorted by
name, rows sorted by every column, exact equality including doubles.
Queries without an oracle are listed as such. Run through
`python3 perfbench/run.py --oracle-check`.
"""
import json
import time

import duckdb
import pandas as pd

import build
import run as bench

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime") or df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def equal(a: pd.DataFrame, b: pd.DataFrame) -> str:
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype(float), y.astype(float)
            if (~((x == y) | (x.isna() & y.isna()))).any():
                return f"values differ in {c}"
        elif not x.astype(str).equals(y.astype(str)):
            return f"values differ in {c}"
    return ""


def main(workloads: dict, scale: str) -> int:
    data = bench.HERE / "data" / scale
    names = [n for qs in workloads.values() for n in qs]
    work = build.target_dir() / "work" / "oracle-check"
    built = build.build(bench.JAVA_OPTS)
    bench.run_pass(built, names, data, 0, work, time.monotonic() + 1800,
                   extra=("--dump", str(work / "dump")))
    oracle = json.loads((work / "dump" / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = 0
    for n in names:
        if n not in oracle:
            print(f"NO ORACLE {n}")
            continue
        try:
            why = equal(normalize(pd.read_parquet(work / "dump" / n)),
                        normalize(con.sql(oracle[n]).df()))
        except Exception as e:  # noqa: BLE001 - a failing side is a mismatch
            why = f"error {e}"
        bad += 1 if why else 0
        print(f"{'FAIL' if why else 'OK  '} {n} {why}")
    return 1 if bad else 0

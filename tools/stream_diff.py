#!/usr/bin/env python3
"""Quantify bounded-trigger divergence for a watermarked stream twin:
re-run the query's batch oracle SQL in DuckDB and diff it row-by-row
against the knob-on Spark stream result, reporting counts of missing /
extra rows (and a small sample of each) instead of just a hash verdict.

Usage: tools/stream_diff.py <sfDir> <verifyOutDir> <query>
"""
import json
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SFDIR, OUT, NAME = sys.argv[1], sys.argv[2], sys.argv[3]
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def table_glob(t: str) -> str:
    p = f"{SFDIR}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


sql = json.load(open(f"{OUT}/oracle_sql.json"))[NAME]
con = duckdb.connect()
con.execute("SET memory_limit='60GB'")
con.execute(f"SET temp_directory='{REPO}/target/spark-tmp/duck'")
for t in TABLES:
    if os.path.exists(f"{SFDIR}/{t}.parquet"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_glob(t)}')")
oracle = canon(con.execute(sql).df())
spark = canon(con.execute(
    f"SELECT * FROM read_parquet('{OUT}/{NAME}/*.parquet')").df())

key = list(oracle.columns)
merged = oracle.merge(spark, on=key, how="outer", indicator=True)
miss = merged[merged["_merge"] == "left_only"]   # oracle-only rows
extra = merged[merged["_merge"] == "right_only"]  # stream-only rows
print(json.dumps({
    "query": NAME,
    "oracle_rows": len(oracle), "stream_rows": len(spark),
    "missing_in_stream": len(miss), "extra_in_stream": len(extra),
    "sample_missing": miss.head(3).drop(columns="_merge")
        .to_dict("records"),
    "sample_extra": extra.head(3).drop(columns="_merge")
        .to_dict("records"),
}, default=str))

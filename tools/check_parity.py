#!/usr/bin/env python3
"""Dev-only differential check mimicking the driver's correctness gate:
read each Spark result parquet written by `graft.Verify`, run the paired
oracle SQL in DuckDB over the same sf tables, and compare (columns sorted
by name, rows sorted by all columns, exact equality incl. doubles).

TYPE-STRICT: the driver's hash is type-sensitive, so this tool compares
the DuckDB relation's declared column types against the Spark parquet
schema BEFORE pandas normalization. An uncast DuckDB SUM() returning
HUGEINT where Spark emits BIGINT is a FAIL here even when the values are
identical (that exact bug shipped in round 6 because the old checker
normalized through pandas and never saw the dtype).

A dump restricted with SPARK_GRAFT_ONLY runs only some queries; the
oracles whose query is absent from Verify's status.json are reported on
one "N oracles not run" line. They still count as failures in the k/N
total and the exit code.

Usage: python3 tools/check_parity.py [sfDir] [verifyOutDir]
"""
import glob
import json
import math
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def table_glob(sfdir: str, t: str) -> str:
    """Driver tables are single files; graft.ScaleUp output is a Spark
    directory of part files — DuckDB needs the glob form for those."""
    import os
    p = f"{sfdir}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def canon_arrow(t) -> str:
    """Canonical type name for a pyarrow (Spark parquet) field type.
    Integer WIDTHS collapse into one family: the driver's hash compares
    values through pandas and provably accepts int32 vs BIGINT (round-6
    artifacts), so flagging width would be stricter than the real gate.
    HUGEINT/DECIMAL stay distinct — pandas maps them to object/float and
    the driver hash diverges."""
    s = str(t)
    if s in ("string", "large_string", "utf8"):
        return "VARCHAR"
    if s in ("int64", "int32", "int16", "int8"):
        return "BIGINT"
    if s == "double":
        return "DOUBLE"
    if s == "float":
        return "FLOAT"
    if s == "bool":
        return "BOOLEAN"
    if s.startswith("date32"):
        return "DATE"
    if s.startswith("timestamp"):
        return "TIMESTAMP"
    if s.startswith("decimal"):
        return "DECIMAL"
    if s.startswith(("list", "large_list")):
        return "LIST"
    if s == "binary" or s == "large_binary":
        return "BLOB"
    return s.upper()


def canon_duck(t) -> str:
    """Canonical type name for a DuckDB relation column type."""
    s = str(t).upper()
    if s in ("INTEGER", "SMALLINT", "TINYINT"):
        return "BIGINT"
    if s.startswith("DECIMAL"):
        return "DECIMAL"
    if s.startswith("TIMESTAMP"):
        return "TIMESTAMP"
    if s.endswith("[]") or s.startswith("LIST"):
        return "LIST"
    return s


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def main() -> int:
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_glob(sfdir, t)}')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    try:
        status = json.load(open(f"{out}/status.json"))
    except FileNotFoundError:
        status = None
    not_run = [] if status is None else sorted(set(oracle) - set(status))
    if not_run:
        print(f"{len(not_run)} oracles not run (absent from status.json)")
    n_fail = len(not_run)
    for name in sorted(set(oracle) - set(not_run)):
        sql = oracle[name]
        if status is not None and status[name] != "ok":
            print(f"FAIL {name}: query failed ({status[name]})")
            n_fail += 1
            continue
        try:
            spark_df = normalize(pd.read_parquet(f"{out}/{name}"))
            parts = sorted(glob.glob(f"{out}/{name}/*.parquet"))
            schema = pq.read_schema(parts[0])
            spark_types = {f.name: canon_arrow(f.type) for f in schema}
        except Exception as e:
            print(f"FAIL {name}: no spark result ({e})")
            n_fail += 1
            continue
        try:
            rel = con.sql(sql)
            duck_types = {c: canon_duck(t)
                          for c, t in zip(rel.columns, rel.types)}
            duck_df = normalize(rel.df())
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: cols spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            n_fail += 1
            continue
        # Type-strict gate: DuckDB's declared types must map to the same
        # canonical type as the Spark parquet schema, column by column.
        tbad = []
        for c in sorted(spark_types):
            st, dt = spark_types[c], duck_types.get(c)
            if st != dt:
                tbad.append(f"{c}: spark={st} duck={dt}")
        for c in sorted(duck_types):
            if c not in spark_types:
                tbad.append(f"{c}: duck-only ({duck_types[c]})")
        if tbad:
            print(f"FAIL {name}: TYPE mismatch: {'; '.join(tbad)}"
                  f" (cast the oracle column, e.g. CAST(... AS BIGINT))")
            n_fail += 1
            continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
            n_fail += 1
            continue
        bad = []
        for c in spark_df.columns:
            a, b = spark_df[c], duck_df[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                af, bf = a.astype(float), b.astype(float)
                neq = ~((af == bf) | (af.isna() & bf.isna()))
                if neq.any():
                    d = (af - bf).abs().max()
                    bad.append(f"{c} (maxdiff={d!r}, n={int(neq.sum())})")
            else:
                if not a.astype(str).equals(b.astype(str)):
                    neq = a.astype(str) != b.astype(str)
                    i = neq.idxmax()
                    bad.append(f"{c} (n={int(neq.sum())}, first row {i}: {a[i]!r} vs {b[i]!r})")
        if bad:
            print(f"FAIL {name}: value mismatch: {'; '.join(bad)}")
            n_fail += 1
        else:
            print(f"OK   {name} ({len(spark_df)} rows)")
    print(f"== {len(oracle) - n_fail}/{len(oracle)} queries match ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

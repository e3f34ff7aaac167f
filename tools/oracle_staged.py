#!/usr/bin/env python3
"""Staged CTE replay for sf100 oracles that disk-kill as one CTE chain
(VERDICT r14 task 5).

The four r14 disk bounds all die the same way: DuckDB materializes the
WHOLE chain's MATERIALIZED CTEs at once (22 label-propagation rounds of
5M rows for the component queries; a ~200M-candidate x 128-row rerank
join for the scaled near-dup family) and exhausts scratch. This runner
replays the SAME registered oracle SQL with bounded peak disk:

  1. parse the top-level `WITH name AS (...)` chain (paren-depth scan);
  2. CREATE TEMP TABLE per CTE, in order;
  3. DROP each table right after its LAST textual reference — the
     l0..l21 rounds only feed the next round, so peak is ~2 rounds;
  4. optionally CHUNK one configured stage (the rerank `c_dot`) by running
     its body N times against `ia % N = i` slices of the candidate
     table, INSERT-INTO-appending — complete groups per slice because
     the chunk key is the group key;
  5. run the final SELECT and hash-compare against the Spark result
     parquet with oracle_budget.py's exact canonicalization.

Math is untouched: the executed text is the registered oracle SQL,
re-sequenced. A timeout/disk kill is recorded as a measured bound.

Usage: tools/oracle_staged.py <sfDir> <verifyOutDir> <q1,q2,...>
Writes one `<name> {json}` line per query (oracle_budget.py format).
"""
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Per-query chunk hints: stage -> (source table to slice, chunk column,
# number of slices). The chunk column must be (part of) the stage's
# GROUP BY key so every slice computes complete groups.
CHUNK = {
    "semantic_dedup_scaled": {"c_dot": ("cand", "ia", 16)},
    "embedding_near_dup_scaled": {"c_dot": ("cand", "ia", 16)},
}


def table_glob(sfdir, t):
    p = f"{sfdir}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def parse_with_chain(sql):
    """Split `WITH [RECURSIVE] a AS [MATERIALIZED] (...), ... <final>`
    into ([(name, body)], final_select)."""
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sql, re.S)
    assert m, "oracle SQL does not start with WITH"
    i = m.end()
    ctes = []
    while True:
        m = re.match(
            r"\s*([A-Za-z_][A-Za-z_0-9]*)\s+AS\s+(MATERIALIZED\s+)?\(",
            sql[i:], re.S)
        assert m, f"expected CTE at offset {i}: {sql[i:i+80]!r}"
        name = m.group(1)
        j = i + m.end()  # position after the opening paren
        depth = 1
        k = j
        while depth:
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            k += 1
        ctes.append((name, sql[j:k - 1]))
        # after the closing paren: "," -> next CTE, else final select
        m2 = re.match(r"\s*,", sql[k:])
        if m2:
            i = k + m2.end()
        else:
            return ctes, sql[k:]


def word_refs(name, text):
    return re.search(rf"\b{re.escape(name)}\b", text) is not None


def run_one(con, name, sql, out, log):
    ctes, final = parse_with_chain(sql)
    chunks = CHUNK.get(name, {})
    live = set()
    t0 = time.time()
    for idx, (cname, body) in enumerate(ctes):
        later = " ".join(b for _, b in ctes[idx + 1:]) + " " + final
        st = time.time()
        if cname in chunks:
            src, key, n = chunks[cname]
            sliced = body.replace(
                f"FROM {src} ",
                f"FROM (SELECT * FROM {src} WHERE {key}__slice) {src} ")
            assert sliced != body, f"chunk source {src} not found in {cname}"
            con.execute(
                f"CREATE TEMP TABLE {cname} AS "
                + sliced.replace(f"{key}__slice", f"{key} % {n} = -1"))
            for i in range(n):
                con.execute(
                    f"INSERT INTO {cname} "
                    + sliced.replace(f"{key}__slice", f"{key} % {n} = {i}"))
                log(f"  [{name}] {cname} chunk {i + 1}/{n} "
                    f"({time.time() - st:.1f}s)")
        else:
            con.execute(f"CREATE TEMP TABLE {cname} AS {body}")
        live.add(cname)
        rows = con.execute(f"SELECT COUNT(*) FROM {cname}").fetchone()[0]
        log(f"  [{name}] {cname}: {rows} rows ({time.time() - st:.1f}s)")
        # eager drop: anything whose last reference has passed
        for dn in sorted(live):
            if not word_refs(dn, later):
                con.execute(f"DROP TABLE {dn}")
                live.discard(dn)
                log(f"  [{name}] dropped {dn}")
    df = con.execute(final).df()
    for cname, _ in ctes:
        con.execute(f"DROP TABLE IF EXISTS {cname}")
    secs = round(time.time() - t0, 1)

    import hashlib
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.md5(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()

    import pyarrow.parquet as pq
    sp = pq.read_table(f"{out}/{name}").to_pandas()
    sp = sp[sorted(sp.columns)]
    sp = sp.sort_values(by=list(sp.columns)).reset_index(drop=True)
    sh = hashlib.md5(
        sp.to_csv(index=False, float_format="%.6f").encode()).hexdigest()
    return {"status": "ok", "seconds": secs, "rows": len(df), "hash": h,
            "spark_rows": len(sp), "rows_match": len(df) == len(sp),
            "hash_match": h == sh, "staged": True}


def main():
    import duckdb
    sfdir, out = sys.argv[1], sys.argv[2]
    queries = sys.argv[3].split(",")
    oracle_sql = json.load(open(f"{out}/oracle_sql.json"))

    def log(msg):
        print(msg, flush=True)

    for name in queries:
        con = duckdb.connect()
        con.execute("SET memory_limit='60GB'")
        con.execute(f"SET temp_directory='{REPO}/target/spark-tmp/duck'")
        for t in TABLES:
            if os.path.exists(f"{sfdir}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{table_glob(sfdir, t)}')")
        try:
            res = run_one(con, name, oracle_sql[name], out, log)
        except Exception as e:
            res = {"status": "error", "err": str(e)[-500:]}
        finally:
            con.close()
        print(name, json.dumps(res), flush=True)


if __name__ == "__main__":
    main()

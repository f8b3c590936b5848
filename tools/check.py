#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs each oracle SQL from <outDir>/oracle_sql.json in DuckDB against the
fixture parquet tables, loads the Spark result parquet the Verify main wrote,
sorts columns by name, and compares values (exact, after the queries' own
round(4)). Usage: check.py <sfDir> <outDir> [query ...]
"""
import json, sys, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    return df

def values(df):
    out = []
    for row in df.itertuples(index=False):
        r = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    r.append(None)
                else:
                    r.append(round(v, 6))
            elif hasattr(v, "tolist"):  # numpy arrays
                r.append(tuple(v.tolist()))
            elif pd.isna(v):
                r.append(None)
            else:
                r.append(v)
        out.append(tuple(r))
    return out

# Oracle connections drop DuckDB's insertion-order guarantee, so an oracle
# whose ORDER BY is not total fails instead of passing on the order its
# plan happens to keep (FIXTURES.md asks for a total ORDER BY). The Spark
# output is read on a default connection: its file order is the result.
ORACLE_CONFIG = {"preserve_insertion_order": False}

def connect(sf_dir, config=None):
    con = duckdb.connect(config={**ORACLE_CONFIG, **(config or {})})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con

# DuckDB's memory limit (80% of RAM by default) caps the bytes of the
# blocks it has allocated, not the memory it touches. The recursive
# connected-components CTEs of q351/q366 allocate many 256 KiB blocks and
# fill few: q351 peaks at 24.2 GiB allocated with 4.0 GB resident on a
# 15 GB host, so it stops at the default cap. An oracle that runs out
# under the default is run once more under this cap.
RETRY_MEMORY_LIMIT = "64GB"

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = connect(sf_dir)
    roomy = None
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            try:
                exp = canon(con.execute(sql).df())
            except duckdb.OutOfMemoryException:
                roomy = roomy or connect(sf_dir, {"memory_limit": RETRY_MEMORY_LIMIT})
                exp = canon(roomy.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            got = canon(duckdb.connect().execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
        except Exception as e:
            print(f"FAIL {name}: spark output missing/unreadable: {e}")
            n_fail += 1
            continue
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: schema mismatch exp={list(exp.columns)} got={list(got.columns)}")
            n_fail += 1
            continue
        ev, gv = values(exp), values(got)
        if ev == gv:
            print(f"PASS {name} ({len(ev)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            if len(ev) != len(gv):
                print(f"FAIL {name}: row count exp={len(ev)} got={len(gv)}")
            elif sorted(map(repr, ev)) == sorted(map(repr, gv)):
                print(f"FAIL {name}: values match but ROW ORDER differs")
            else:
                diffs = [(i, a, b) for i, (a, b) in enumerate(zip(ev, gv)) if a != b]
                print(f"FAIL {name}: {len(diffs)} differing rows; first: {diffs[:3]}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()

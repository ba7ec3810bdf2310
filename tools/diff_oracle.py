#!/usr/bin/env python3
"""Compare the DuckDB oracle results of two Verify outputs.

Usage: python3 tools/diff_oracle.py BASE_OUT NEW_OUT SF_DIR

Runs each query's oracle SQL from BASE_OUT/oracle_sql.json and from
NEW_OUT/oracle_sql.json in DuckDB over the SF_DIR parquet tables and
compares the two results: column names, column types and rows, in order.
DuckDB runs on one thread, so double aggregates fold in a fixed order and
an unchanged rule gives bit-identical doubles. Prints one line per query
and exits 1 when any result differs or a query is on one side only.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def run(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    # repr is exact for doubles and makes NaN equal to itself
    rows = [repr(r) for r in rel.fetchall()]
    return cols, types, rows


def first_diff(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: {x[:120]} vs {y[:120]}"
    return f"rows {len(a)} vs {len(b)}"


def main(base_out, new_out, sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    base = json.load(open(f"{base_out}/oracle_sql.json"))
    new = json.load(open(f"{new_out}/oracle_sql.json"))
    same = bad = 0
    for name in sorted(set(base) | set(new)):
        if name not in new or name not in base:
            print(f"ONLY {name}: in {'base' if name in base else 'new'} only")
            bad += 1
            continue
        try:
            b = run(con, base[name])
            n = run(con, new[name])
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}")
            bad += 1
            continue
        if b == n:
            print(f"SAME {name} ({len(b[2])} rows)")
            same += 1
            continue
        if b[0] != n[0]:
            why = f"columns {b[0]} vs {n[0]}"
        elif b[1] != n[1]:
            why = f"types {b[1]} vs {n[1]}"
        else:
            why = first_diff(b[2], n[2])
        print(f"DIFF {name}: {why}")
        bad += 1
    print(f"== {same} same / {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))

#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: compare Verify output
parquet against DuckDB running the declared oracle SQL on the same tables.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list,)) else v)
        try:
            import numpy as np
            if isinstance(df[c].iloc[0] if len(df) else None, np.ndarray):
                df[c] = df[c].apply(tuple)
        except Exception:
            pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not oracle:
        print(f"FAIL {out_dir}/oracle_sql.json names no query")
        return 1
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
            duck_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}")
            n_fail += 1
            continue
        s, d = normalize(spark_df), normalize(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns spark={list(s.columns)} duck={list(d.columns)}")
            n_fail += 1
            continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}")
            n_fail += 1
            continue
        if s.equals(d):
            print(f"PASS {name} ({len(s)} rows)")
            n_pass += 1
        else:
            # locate first differing cell for debugging; a column can differ
            # only in dtype (values equal), so guard the empty-index case
            diff_cols = [c for c in s.columns if not s[c].equals(d[c])]
            detail = []
            for c in diff_cols[:3]:
                try:
                    neq = s[c] != d[c]
                    hits = neq[neq].index
                    if len(hits):
                        idx = hits[0]
                        detail.append(f"{c}[{idx}]: spark={s[c][idx]!r} duck={d[c][idx]!r}")
                    else:
                        detail.append(f"{c}: values equal, dtype-only diff")
                except Exception as e:
                    detail.append(f"{c}: diff-report error {e}")
            dt = {c: (str(s[c].dtype), str(d[c].dtype)) for c in s.columns
                  if str(s[c].dtype) != str(d[c].dtype)}
            print(f"FAIL {name}: value diff in {diff_cols} | {'; '.join(detail)} | dtypes {dt}")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

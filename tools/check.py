#!/usr/bin/env python3
"""Local self-check harness: replicates the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify, runs the matching oracle SQL in
DuckDB over the same parquet tables and compares: row count, column set,
and exact values (columns sorted by name, rows sorted by all columns).
Each PASS/FAIL line ends with the seconds its oracle SQL took.

DuckDB runs under a fixed memory limit and spills into a temporary
directory under the system temp dir (TMPDIR), removed at exit, so a
large oracle spills to local disk instead of growing resident or
writing into the current directory.
"""
import json
import os
import sys
import tempfile
import time

import duckdb
import pandas as pd

# DuckDB's working-memory cap; past it, joins and aggregates spill.
MEMORY_LIMIT = "4GB"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.astype(str))
    return df


def main(sf_dir: str, out_dir: str) -> int:
    with tempfile.TemporaryDirectory(prefix="graft-duckdb-") as spill:
        con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                     "temp_directory": spill})
        try:
            return compare_all(con, sf_dir, out_dir)
        finally:
            con.close()


def compare_all(con, sf_dir: str, out_dir: str) -> int:
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"SKIP {name}: no spark output (partial GRAFT_ONLY run)")
            continue
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        t0 = time.monotonic()
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e} "
                  f"(oracle {time.monotonic() - t0:.2f} s)")
            n_fail += 1
            continue
        secs = f"oracle {time.monotonic() - t0:.2f} s"
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} != "
                  f"{sorted(exp.columns)} ({secs})")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)} ({secs})")
            n_fail += 1
            continue
        g, e = canon(got), canon(exp)
        bad = None
        for c in g.columns:
            gc, ec = g[c], e[c]
            try:
                eq = (gc.astype(str) == ec.astype(str)) | (gc.isna() & ec.isna())
            except Exception:
                eq = pd.Series([False] * len(gc))
            if not eq.all():
                i = int((~eq).idxmax())
                bad = (c, gc.iloc[i], ec.iloc[i], i)
                break
        if bad:
            c, gv, ev, i = bad
            print(f"FAIL {name}: col {c} row {i}: spark={gv!r} oracle={ev!r} "
                  f"({secs})")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows, {secs})")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

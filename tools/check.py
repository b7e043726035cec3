#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query directory under <verifyOutDir>, reads the Spark-written
parquet, runs the matching SQL from oracle_sql.json in DuckDB (with each
fixture parquet registered as a view named after the table), and compares
values (columns sorted by name, rows sorted by all columns).

graft.Verify writes oracle entries only for the queries it ran, so an
entry with no output directory is a query that failed to produce one: it
is reported as missing and counted as bad. A run that checked nothing
(no oracle entry, e.g. a Verify regex that matched no query) fails.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Stringify EVERY column: the driver's gate hashes stringified values,
    # so an int64-vs-float64 dtype drift (e.g. DuckDB HUGEINT SUMs landing
    # in pandas as float) must fail here too, not be hidden by numeric
    # comparison. r1 lesson: 3 queries passed locally but failed the
    # driver's hash for exactly this reason.
    for c in df.columns:
        df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    import glob
    import os
    qdirs = sorted(d for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d))
    missing = sorted(set(oracle) - {os.path.basename(d) for d in qdirs})
    for name in missing:
        print(f"  ✗ {name}: missing (no output dir)")
    n_bad += len(missing)
    for qd in qdirs:
        name = os.path.basename(qd)
        got = pd.concat([pd.read_parquet(f)
                         for f in glob.glob(f"{qd}/*.parquet")], ignore_index=True) \
            if glob.glob(f"{qd}/*.parquet") else pd.DataFrame()
        if name not in oracle:
            print(f"  ~ {name}: rows-only check, rows={len(got)}")
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"  ✗ {name}: ORACLE SQL FAILED: {e}")
            n_bad += 1
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"  ✗ {name}: column mismatch spark={list(g.columns)} oracle={list(e.columns)}")
            n_bad += 1
            continue
        if len(g) != len(e):
            print(f"  ✗ {name}: row count spark={len(g)} oracle={len(e)}")
            n_bad += 1
            continue
        try:
            # exact: the driver's gate hash-compares values, so any ulp
            # drift that a tolerance would hide still fails the real gate
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=True)
            print(f"  ✓ {name}: {len(g)} rows match")
            n_ok += 1
        except AssertionError as ex:
            print(f"  ✗ {name}: VALUE MISMATCH\n{str(ex)[:800]}")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad, {len(missing)} missing ==")
    if n_ok + n_bad == 0:
        # an empty oracle_sql.json (a Verify regex that matched no query)
        # checked nothing: that is not a pass
        print("nothing was checked: oracle_sql.json has no entries")
        return 1
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())

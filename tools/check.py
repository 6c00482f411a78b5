#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir]

Assumes `sbt "runMain graft.Verify <sfdir> <outdir>"` already ran.
Registers the sf tables in DuckDB, runs every oracle_sql.json entry,
and compares against the parquet the Spark side wrote: columns sorted
by name, rows sorted by all columns, exact value equality. The pass
count covers the outputs present; oracles without an output are
counted on their own line and make the exit code 1.
"""
import json
import sys

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = json.load(open(f"{OUT}/oracle_sql.json"))
    failed = []
    import glob
    have = {p.split("/")[-1] for p in glob.glob(f"{OUT}/*") if not p.endswith(".json")}
    for name in sorted(have):
        spark_df = pd.read_parquet(f"{OUT}/{name}")
        if name not in oracles:
            status = f"rows-only ({len(spark_df)} rows)"
            if len(spark_df) == 0:
                failed.append(name)
                status += "  EMPTY!"
            print(f"{name:28s} {status}")
            continue
        try:
            duck_df = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"{name:28s} ORACLE SQL ERROR: {str(e)[:160]}")
            failed.append(name)
            continue
        s, d = norm(spark_df), norm(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"{name:28s} SCHEMA MISMATCH spark={list(s.columns)} duck={list(d.columns)}")
            failed.append(name)
            continue
        if len(s) != len(d):
            print(f"{name:28s} ROWCOUNT MISMATCH spark={len(s)} duck={len(d)}")
            failed.append(name)
            continue
        ok = True
        for c in s.columns:
            a, b = s[c], d[c]
            try:
                eq = (a.isna() & b.isna()) | (a == b)
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                bad = (~eq).idxmax()
                print(f"{name:28s} VALUE MISMATCH col={c} row={bad}: "
                      f"spark={a[bad]!r} duck={b[bad]!r} "
                      f"(dtype spark={a.dtype} duck={b.dtype}, {int((~eq).sum())} bad)")
                ok = False
                failed.append(name)
                break
        if ok:
            # dtype parity (schema check analogue)
            dt = [(c, str(s[c].dtype), str(d[c].dtype)) for c in s.columns
                  if str(s[c].dtype) != str(d[c].dtype)]
            note = f"  dtypes differ: {dt}" if dt else ""
            print(f"{name:28s} OK ({len(s)} rows){note}")
    missing = sorted(set(oracles) - have)
    for name in missing:
        print(f"{name:28s} NO SPARK OUTPUT (query failed?)")
    # passes count over the outputs present; an oracle with no output
    # (a failed query, or a SPARK_GRAFT_ONLY subset run) is its own
    # count and still fails the check
    failed = sorted(set(failed))
    print(f"\n{len(have) - len(failed)}/{len(have)} pass; failures: {failed}")
    if missing:
        print(f"{len(missing)} oracle(s) with no Spark output")
    sys.exit(1 if failed or missing else 0)


if __name__ == "__main__":
    main()

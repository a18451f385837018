#!/usr/bin/env python3
"""Local pre-commit correctness check (SURVEY.md §6).

Replicates the driver's gate: run graft.Verify at a scale factor (dumps
each SparkEntry query to parquet + oracle_sql.json), then run each oracle
SQL in DuckDB over the same parquet tables and compare — columns sorted
by name, values hashed row-by-row.

Usage:
    python3 tools/check.py [--sf /root/testdata/sf0.01] [--skip-verify]
                           [--only q1_pricing_summary,...]

--skip-verify reuses the previous dump in /tmp/graft_verify (fast loop
when only the oracle SQL changed).
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_verify(sf_dir, out, only=None):
    names = " " + " ".join(sorted(only)) if only else ""
    cmd = ["sbt", f'runMain graft.Verify {sf_dir} {out}{names}']
    print(f"[check] running: {' '.join(cmd)}")
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
    if r.returncode != 0:
        print(tail)
        sys.exit(f"[check] Verify failed rc={r.returncode}")
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization: columns sorted by name."""
    df = df[sorted(df.columns)]
    return df


def cell(v):
    if v is None or v != v:  # NaN/None
        return "NULL"
    if isinstance(v, float):
        # Cross-engine float text: shortest repr, normalize -0.0.
        if v == 0:
            v = 0.0
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update("\x1f".join(cell(v) for v in row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/graft_verify")
    ap.add_argument("--skip-verify", action="store_true")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    OUT = args.out
    only_arg = set(args.only.split(",")) if args.only else None
    if not args.skip_verify:
        # --only + a fresh dump dir = dump just those queries; with the
        # default dir the full dump is refreshed so older entries stay
        # comparable
        run_verify(args.sf, OUT,
                   only_arg if OUT != "/tmp/graft_verify" else None)

    with open(f"{OUT}/oracle_sql.json") as f:
        oracles = json.load(f)
    only = set(args.only.split(",")) if args.only else None

    con = duckdb.connect()
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = sorted(d for d in os.listdir(OUT)
                   if os.path.isdir(os.path.join(OUT, d)))
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        if only and name not in only:
            continue
        spark_df = canon(pd.read_parquet(f"{OUT}/{name}"))
        if name not in oracles:
            ok = len(spark_df) > 0
            n_rows_only += 1
            print(f"{'ROWS-OK' if ok else 'ROWS-EMPTY':9s} {name} "
                  f"(no oracle, rows={len(spark_df)})")
            continue
        t0 = time.monotonic()
        try:
            oracle_df = canon(con.sql(oracles[name]).df())
        except Exception as e:
            n_fail += 1
            print(f"{'ORACLE-ERR':9s} {name} "
                  f"oracle_s={time.monotonic() - t0:.2f}: {e}")
            continue
        oracle_s = f"oracle_s={time.monotonic() - t0:.2f}"
        schema_ok = list(spark_df.columns) == list(oracle_df.columns)
        rows_ok = len(spark_df) == len(oracle_df)
        hash_ok = schema_ok and rows_ok and \
            table_hash(spark_df) == table_hash(oracle_df)
        if hash_ok:
            n_pass += 1
            print(f"{'PASS':9s} {name} rows={len(spark_df)} {oracle_s}")
        else:
            n_fail += 1
            print(f"{'FAIL':9s} {name} schema_ok={schema_ok} "
                  f"rows={len(spark_df)}/{len(oracle_df)} {oracle_s}")
            if not schema_ok:
                print(f"   spark:  {list(spark_df.columns)}")
                print(f"   oracle: {list(oracle_df.columns)}")
            elif rows_ok:
                # locate first differing row for fast diagnosis
                for i in range(min(len(spark_df), 10000)):
                    a = [cell(v) for v in spark_df.iloc[i]]
                    b = [cell(v) for v in oracle_df.iloc[i]]
                    if a != b:
                        print(f"   first diff at row {i}:")
                        print(f"   spark:  {a}")
                        print(f"   oracle: {b}")
                        break
    print(f"[check] pass={n_pass} fail={n_fail} rows_only={n_rows_only}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

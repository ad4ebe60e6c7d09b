#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs `graft.Verify` (Spark) at the given SF dir, then executes each
oracle_sql entry in DuckDB over the same parquet tables and compares
results: column names (sorted), row counts, and values (rows sorted, exact
for non-floats, tiny tolerance for floats).

Usage: python3 tools/verify_local.py [sfdir] [--skip-spark] [name ...]
"""
import json
import math
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
OUT = Path("/tmp/graft_verify")
ONLY = [a for a in sys.argv[2:] if not a.startswith("-")]
SKIP_SPARK = "--skip-spark" in sys.argv

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_spark():
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}']
    e = dict(os.environ)
    e.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    e["PATH"] = "/usr/bin:/bin:/usr/local/bin"
    r = subprocess.run(cmd, capture_output=True, text=True, env=e, cwd="/root/repo")
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(r.stderr[-4000:])
        sys.exit("spark verify failed")
    for line in r.stdout.splitlines():
        if "[verify]" in line:
            print(line)


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"  # the driver's hash treats NaN==NaN; so do we
        return v
    return v


def pandas_sorted(tbl):
    """Replicate the driver's compare path: pandas frame, columns sorted by
    name, rows sorted with DataFrame.sort_values. This CRASHES on array-typed
    columns (unhashable numpy.ndarray) exactly like the driver does — queries
    must serialize arrays to strings in their final projection.

    Floats are compared EXACTLY (no rounding, sort or equality): every
    engine-computed float in the catalog is scaled to BIGINT before output,
    and the only float columns that remain (q10/q11) are raw parquet
    passthroughs, bit-identical on both sides. Exact compare keeps this
    local gate at-least-as-strict as the driver's, so a local pass implies
    a driver pass regardless of how the driver treats float ties."""
    df = tbl.to_pandas()
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main():
    if not SKIP_SPARK:
        run_spark()
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    names = ONLY or sorted(oracle.keys())
    n_pass = n_fail = 0
    for name in names:
        sql = oracle.get(name)
        resdir = OUT / name
        if not resdir.exists():
            print(f"FAIL {name}: no spark result")
            n_fail += 1
            continue
        spark_tbl = pq.read_table(str(resdir))
        try:
            duck_tbl = con.execute(sql).fetch_arrow_table()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {str(exc).splitlines()[0]}")
            n_fail += 1
            continue
        s_cols = sorted(spark_tbl.column_names)
        d_cols = sorted(duck_tbl.column_names)
        if s_cols != d_cols:
            print(f"FAIL {name}: columns spark={s_cols} duck={d_cols}")
            n_fail += 1
            continue
        try:
            s_df = pandas_sorted(spark_tbl)
            d_df = pandas_sorted(duck_tbl)
        except Exception as exc:
            print(f"FAIL {name}: pandas sort err (driver would err too): {str(exc).splitlines()[0]}")
            n_fail += 1
            continue
        if len(s_df) != len(d_df):
            print(f"FAIL {name}: rows spark={len(s_df)} duck={len(d_df)}")
            n_fail += 1
            continue
        s_rows = [tuple(norm(v) for v in r) for r in s_df.itertuples(index=False, name=None)]
        d_rows = [tuple(norm(v) for v in r) for r in d_df.itertuples(index=False, name=None)]
        if s_rows != d_rows:
            diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
            print(f"FAIL {name}: {len(diff)} differing rows; first: ")
            if diff:
                print("  spark:", repr(diff[0][0])[:300])
                print("  duck :", repr(diff[0][1])[:300])
            n_fail += 1
            continue
        print(f"PASS {name}: {len(s_rows)} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail / {len(names)} checked")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

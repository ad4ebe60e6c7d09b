#!/usr/bin/env python3
"""Regenerates perfbench/catalog/queries.json: for each query of the
benchmark's catalog subset, the DuckDB oracle's row count and result digest
over the stored tables in perfbench/data/sf0.01.

Without --subset the names, families and SQL already stored in queries.json
are re-run. With --subset FILE ({name: family}) the SQL is taken from the
engine's SparkEntry.oracleSql (dumped by the harness's perfbench.DumpOracles)
and copied into queries.json, so the stored expectations do not move when the
engine's own oracle strings change later. The digest is the one
perfbench.Digest computes from Spark rows: columns sorted by name, values
tagged by kind (integral numbers print as integers, other floats as IEEE
bits), per-row SHA-256 hashes sorted and hashed again.

Usage: python3 perfbench/expected.py [--subset FILE] [--tables DIR] [--out FILE]
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent

def value(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b:true" if v else "b:false"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"i:{int(v)}"
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if v == math.floor(v) and abs(v) < 9.007199254740992e15:
            return f"i:{int(v)}"
        return "f:" + struct.pack(">d", v).hex()
    if isinstance(v, str):
        return "s:" + v
    return f"o:{v}"


def sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(columns, rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(sha("\u0001".join(value(r[i]) for i in order)) for r in rows)
    return sha(",".join(sorted(columns)) + "\n" + "\n".join(hashes))


def engine_oracles():
    sys.path.insert(0, str(HERE))
    import build
    engine, bench, _, _ = build.build()
    out = build.build_dir() / "oracles.json"
    cp = os.pathsep.join([str(engine), str(bench), "/opt/spark/jars/*"])
    subprocess.run(["java", "-cp", cp, "perfbench.DumpOracles", str(out)], check=True)
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", default=str(HERE / "data" / "sf0.01"))
    ap.add_argument("--out", default=str(HERE / "catalog" / "queries.json"))
    ap.add_argument("--subset", help="JSON file {name: family} to take from the engine")
    a = ap.parse_args()
    if a.subset:
        oracles = engine_oracles()
        items = [(n, f, oracles[n]) for n, f in json.loads(Path(a.subset).read_text()).items()]
    else:
        stored = json.loads((HERE / "catalog" / "queries.json").read_text())["queries"]
        items = [(q["name"], q["family"], q["sql"]) for q in stored]
    con = duckdb.connect()
    for t in sorted(Path(a.tables).glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    out = []
    for name, family, sql in items:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out.append({"name": name, "family": family, "rows": len(rows),
                    "digest": digest(cols, rows), "sql": sql})
    Path(a.out).write_text(json.dumps({"queries": out}, indent=1) + "\n")
    print(f"wrote {len(out)} expectations to {a.out}")


if __name__ == "__main__":
    main()

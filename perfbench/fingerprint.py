#!/usr/bin/env python3
"""Compute the expected result fingerprints from the DuckDB oracle.

Usage: fingerprint.py DATA_DIR ORACLE_JSON > expected.tsv

ORACLE_JSON maps query name -> oracle SQL text; the benchmark writes it
with `python3 perfbench/run.py --dump-oracle FILE`. DATA_DIR holds the
parquet tables. Each fingerprint is the row count plus a SHA-256 over
the sorted, normalised rows, written as one `name rows sha256` line per
query. The normalisation must match
src/perfbench/Fingerprint.scala, which checks the engine's results
against this file on every run.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def float6(v):
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    return f"{v:.6f}"


def cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        return float6(v)
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "(" + ", ".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    enc = sorted("\x1f".join(cell(r[i]) for i in order).encode("utf-8")
                 for r in rows)
    return {"rows": len(rows),
            "sha256": hashlib.sha256(b"\n".join(enc)).hexdigest()}


def main():
    data_dir, oracle_file = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for name, sql in sorted(json.load(open(oracle_file)).items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        fp = fingerprint(cols, cur.fetchall())
        print(f"{name} {fp['rows']} {fp['sha256']}")


if __name__ == "__main__":
    main()

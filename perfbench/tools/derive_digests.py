#!/usr/bin/env python3
"""Derives the expected batch digests from the DuckDB oracle.

Usage (from the repository root, once per change to the oracle SQL or the
benchmark tables):
    python3 perfbench/tools/derive_digests.py

Runs every SparkEntry.oracleSql query in DuckDB over perfbench/data and
writes perfbench/expected/batch_digests.json. A digest follows
scripts/check.py's compare rule: columns sorted by name, rows compared as a
multiset, numbers compared by exact value. perfbench/src/Check.scala
(object Digest) renders Spark's rows the same way.
"""
import decimal
import hashlib
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def value(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        v = decimal.Decimal(v)
    if isinstance(v, decimal.Decimal):
        if v == 0:
            return "0"
        s = format(v, "f")  # exact: normalize() would round to 28 digits
        return s.rstrip("0").rstrip(".") if "." in s else s
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\u0001".join(value(r[i]) for i in order) for r in rows)
    text = ",".join(columns[i] for i in order) + "\n" + "\n".join(lines)
    return hashlib.sha256(text.encode()).hexdigest()


def main():
    sql_path = os.path.join(HERE, ".work", "oracle_sql.json")
    os.makedirs(os.path.dirname(sql_path), exist_ok=True)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--oracle-sql", sql_path], check=True)
    with open(sql_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    data = os.path.join(HERE, "data")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracle.items()):
        rel = con.sql(sql)
        out[name] = digest(rel.columns, rel.fetchall())
    with open(os.path.join(HERE, "expected", "batch_digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} digests written")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Derive perfbench/oracle.json: the DuckDB fingerprint of every query_mix
member, from the registry's own oracle SQL (SparkEntry.oracleSql) run over
perfbench/fixture.

    python3 perfbench/oracle.py

Rerun it when the fixture, the query mix or an oracle query changes. The
text of each value must match Fingerprint.value in the Scala benchmark:
fractional numbers rounded to 9 significant digits (half-even) in plain
notation, columns sorted by name, rows in result order.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
NINE = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)


def frac(d):
    s = format(NINE.plus(d).normalize(NINE), "f")
    return "0" if s == "-0" else s


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return frac(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return frac(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    h.update(("\u0001".join(columns[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(("\u0001".join(value(r[i]) for i in order) + "\n").encode())
    return f"rows:{len(rows)}:{h.hexdigest()}"


def main():
    bench.build()
    os.environ["TZ"] = "UTC"
    sql_file = os.path.join(bench.HERE, "work", "oracle_sql.json")
    os.makedirs(os.path.dirname(sql_file), exist_ok=True)
    with open(bench.CLASSPATH) as f:
        cp = f.read().strip()
    subprocess.run(["java", "-cp", cp, "perfbench.PerfBench", "--oracle-sql", sql_file],
                   check=True)
    with open(sql_file) as f:
        queries = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    fixture = os.path.join(bench.HERE, "fixture")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    out = {}
    for name, sql in sorted(queries.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = fingerprint(cols, cur.fetchall())
        print(f"{name}: {out[name]}")
    with open(os.path.join(bench.HERE, "oracle.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

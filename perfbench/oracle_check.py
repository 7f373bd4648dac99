#!/usr/bin/env python3
"""Cross-check the committed fingerprints against DuckDB.

    python3 perfbench/run.py --write-fingerprints   # fixtures + oracle SQL
    python3 perfbench/oracle_check.py

For every benchmark operation whose declared query carries DuckDB oracle
SQL, runs that SQL in DuckDB over the generated fixtures and fingerprints
the result exactly as perfbench/src/.../Fingerprint.scala does (row count
plus an order-insensitive sum of per-row SHA-256 prefixes over canonical
text; numbers rounded to 10 significant digits). Prints PASS/FAIL per
query; the exit code is the number of failures.
"""
import datetime
import hashlib
import json
import os
import sys
from decimal import Context, Decimal, ROUND_HALF_EVEN

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
STATE = os.path.join(os.getcwd(), ".bench_build", "perfbench")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
CTX = Context(prec=10, rounding=ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def num(d):
    r = CTX.plus(d)
    return "0" if r.is_zero() else format(r.normalize(CTX), "f")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        return num(Decimal(v))
    if isinstance(v, Decimal):
        return num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(text.encode()).digest()[:8],
                                "big", signed=True)
    return len(rows), format(total % 2**64, "016x")


def main():
    fixtures = os.path.join(STATE, "fixtures")
    with open(os.path.join(STATE, "oracle_sql.json")) as f:
        oracles = json.load(f)
    expected = {}
    with open(os.path.join(HERE, "fingerprints.tsv")) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, rows, h = line.rstrip("\n").split("\t")
                expected[name] = (int(rows), h)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{fixtures}/{t}.parquet/*.parquet'")
    fails = 0
    for name in sorted(oracles):
        if name not in expected:
            continue
        rel = con.sql(oracles[name])
        got = fingerprint(list(rel.columns), rel.fetchall())
        ok = got == expected[name]
        fails += not ok
        print(f"{'PASS' if ok else 'FAIL'} {name}: duckdb {got[0]} rows {got[1]}, "
              f"committed {expected[name][0]} rows {expected[name][1]}")
    print(f"{len([n for n in oracles if n in expected]) - fails} of "
          f"{len([n for n in oracles if n in expected])} oracle queries agree")
    sys.exit(min(fails, 100))


if __name__ == "__main__":
    main()

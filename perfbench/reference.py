#!/usr/bin/env python3
"""Reference fingerprints: runs each query's DuckDB oracle SQL over the
corpus and writes `name<TAB>rows<TAB>hash` lines. The fingerprint is the
row count plus the sum, modulo 2^64, of the first 8 bytes (big-endian) of
the MD5 of each row's canonical text; FpSink.scala computes the same over
Spark's result.

Usage: python3 perfbench/reference.py <oracles.json> <corpus_dir> <out.tsv>
"""
import datetime
import decimal
import hashlib
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)


def number(d):
    return "{:f}".format(CTX.plus(d).normalize(CTX))


def canon(v):
    """Canonical text of one value (see Canon in FpSink.scala)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def fingerprint(con, sql):
    rel = con.sql(sql)
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    rows = rel.fetchall()
    total = 0
    for row in rows:
        text = "|".join(canon(row[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
    return len(rows), total % (1 << 64)


def main(oracles_path, corpus, out):
    with open(oracles_path) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    lines = []
    for name, sql in oracles.items():
        rows, h = fingerprint(con, sql)
        lines.append(f"{name}\t{rows}\t{h}\n")
    with open(out + ".tmp", "w") as f:
        f.writelines(lines)
    os.replace(out + ".tmp", out)


if __name__ == "__main__":
    main(*sys.argv[1:4])

#!/usr/bin/env python3
"""Regenerates perfbench/digests.json, the expected output of every
workload row: the harness dumps each row's oracle SQL
(SparkEntry.oracleSqlFor on perfbench/data/sf0.01), DuckDB runs it over
the same parquet tables, and the result is digested exactly as the
harness digests Spark's result (perfbench/src/perfbench/Digest.scala).

    python3 perfbench/make_digests.py     # from the repository root

Needs the python3 duckdb module; the benchmark runs never do.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def number(f):
    if math.isnan(f):
        return "N"
    if math.isinf(f):
        return "f:inf" if f > 0 else "f:-inf"
    if f == math.floor(f) and abs(f) < 2 ** 53:
        return "n:%d" % int(f)
    return "f:" + struct.pack(">d", f).hex()


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:true" if v else "b:false"
    if isinstance(v, int):
        return "n:%d" % v
    if isinstance(v, (float, decimal.Decimal)):
        return number(float(v))
    if isinstance(v, str):
        return "s%d:%s" % (len(v.encode()), v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t:%04d-%02d-%02d %02d:%02d:%02d.%06d" % (
            v.year, v.month, v.day, v.hour, v.minute, v.second, v.microsecond)
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={cell(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "?" + str(v)


def digest_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256(",".join(columns[i] for i in order).encode())
    for r in rows:
        h.update(("\n" + "\t".join(cell(r[i]) for i in order)).encode())
    return {"sha256": h.hexdigest(), "rows": len(rows)}


def main():
    import duckdb
    classes, _ = build.ensure()
    data = os.path.join(build.HERE, "data", "sf0.01")
    sql_file = os.path.join(build.OUT, "oracle_sql.json")
    os.makedirs(build.OUT, exist_ok=True)
    rc, _ = run.run_jvm(run.java_cmd(classes, "perfbench.Harness", [
        "--oracle-out", sql_file, "--data", data,
        "--cpus", str(len(os.sched_getaffinity(0)))]))
    if rc != 0:
        raise SystemExit(f"oracle dump failed (exit {rc})")
    with open(sql_file) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    digests = {}
    for name, sql in sorted(oracles.items()):
        cur = con.execute(sql)
        digests[name] = digest_rows([d[0] for d in cur.description], cur.fetchall())
        print(f"{name}: {digests[name]['rows']} rows", file=sys.stderr)
    with open(os.path.join(build.HERE, "digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

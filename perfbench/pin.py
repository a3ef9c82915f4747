#!/usr/bin/env python3
"""Pin the headline queries' oracle results for the read-mix workload.

Usage (from the checkout root, after one run has built .bench_build/):

  python3 perfbench/pin.py

Exports the program's DuckDB oracle SQL for the ten headline queries
(SparkEntry.oracleSql), runs it in DuckDB over the generated tables and
writes perfbench/pins.json: per query, the SHA-256 of the canonical
result (the same `canon` as Canon.scala) and its row count. Run it again
only when gen_tables.py changes.
"""
import hashlib
import json
import os
import subprocess
import sys
from datetime import date, datetime, timezone
from decimal import Decimal, ROUND_HALF_EVEN

import duckdb

import run

NINE = Decimal("1e-9")


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        d = Decimal(v).quantize(NINE, rounding=ROUND_HALF_EVEN)
        return "0" if d == 0 else format(d.normalize(), "f")
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def result_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\u0001".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest(), len(rows)


def main() -> int:
    cp = run.build()
    tbl = run.tables()
    oracle = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--dump-oracle", oracle], check=True)
    sqls = json.load(open(oracle))
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(tbl)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(tbl, f)}')")
    pins = {}
    for name, sql in sorted(sqls.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        sha, n = result_hash(cols, cur.fetchall())
        pins[name] = {"sha256": sha, "rows": n}
        print(f"{name}: {n} rows {sha[:16]}")
    with open(os.path.join(run.BENCH, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Record the expected outputs of the aql_dashboard workload.

    python3 perfbench/record.py

For each query of the aql_dashboard workload, the harness runs it once
over the benchmark tables and reports its row count and order-independent
hash (see graftbench.RowHash). Where the engine declares an oracle
(SparkEntry.oracleSql), the same SQL runs in DuckDB over the same parquet
files and its result must hash to the same value; a mismatch aborts the
recording. The result is written to perfbench/expected/aql_dashboard.json.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import tempfile

import duckdb

import run

EPOCH = datetime.datetime(1970, 1, 1)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def rounded(x):
    x = float(x)
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Inf" if x > 0 else "-Inf"
    return str(int(math.floor(x * 1e6 + 0.5)))


def token(v, t):
    """The canonical text of one value of Spark type `t` (RowHash.token).
    Covers the scalar and array types the recorded queries return; any other
    type renders differently from the harness, so its query fails to record
    instead of recording a wrong hash."""
    if v is None:
        return "\\N"
    if t in ("double", "float") or t.startswith("decimal"):
        return rounded(v)
    if t == "boolean":
        return "true" if v else "false"
    if t in ("timestamp", "timestamp_ntz"):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if t == "date":
        return str((v - EPOCH.date()).days)
    if t.startswith("array<"):
        et = t[6:-1]
        return "[" + ",".join(token(e, et) for e in v) + "]"
    if isinstance(v, float):
        return str(int(v))
    return str(v)


def digest(rows, types):
    total = 0
    for r in rows:
        text = "\u0001".join(token(v, t) for v, t in zip(r, types))
        total = (total + int.from_bytes(hashlib.md5(text.encode()).digest()[8:], "big")) % (1 << 64)
    return len(rows), f"{total:016x}"


def oracle(con, sql, names, types):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    if sorted(cols) != names:
        raise SystemExit(f"oracle columns {sorted(cols)} != engine columns {names}")
    order = [cols.index(n) for n in names]
    rows = [[r[i] for i in order] for r in cur.fetchall()]
    return digest(rows, types)


def record(workload, env, data):
    with tempfile.NamedTemporaryFile(suffix=".json", dir=run.HERE, delete=False) as tmp:
        path = tmp.name
    try:
        args = argparse.Namespace(workload=workload, seed=0, seconds=0, trace=0)
        code, lines = run.jvm(args, ["--record", path], env)
        if code != 0:
            raise SystemExit("\n".join(lines[-20:]) + f"\nrecording {workload} failed")
        with open(path) as f:
            got = json.load(f)
    finally:
        os.unlink(path)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
    out = {}
    for name, r in got.items():
        fields = [f.split(":", 1) for f in r["types"].split("\u0001")]
        names, types = [f[0] for f in fields], [f[1] for f in fields]
        status = "no oracle"
        if r["sql"] is not None:
            rows, h = oracle(con, r["sql"], names, types)
            if (rows, h) != (r["rows"], r["hash"]):
                raise SystemExit(f"{name}: engine rows={r['rows']} hash={r['hash']}, "
                                 f"DuckDB oracle rows={rows} hash={h}")
            status = "matches the DuckDB oracle"
        out[name] = {"rows": r["rows"], "hash": r["hash"], "check": status}
        print(f"{workload} {name}: {r['rows']} rows, {status}")
    dest = os.path.join(run.HERE, "expected", f"{workload}.json")
    with open(dest, "w") as f:
        f.write("{\n" + ",\n".join(f'  "{n}": {json.dumps(v)}' for n, v in sorted(out.items()))
                + "\n}\n")


def main():
    env = dict(os.environ, SPARK_HOME=run.spark_home())
    record("aql_dashboard", env, run.tables())


if __name__ == "__main__":
    main()

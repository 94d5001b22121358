#!/usr/bin/env python3
"""Hash-compare a `graft.Verify` output directory against DuckDB.

    python3 scripts/check_oracle.py <verify_out> <sfDir>

`graft.Verify <sfDir> <verify_out>` writes each query's Spark result to
`<verify_out>/<name>/` (parquet) and the DuckDB oracle SQL of every query
to `<verify_out>/oracle_sql.json`. This script runs each oracle SQL in
DuckDB over views of `<sfDir>/*.parquet` (one view per file, named by its
stem) and compares the two results after one normalization:

  - columns sorted by name (the names must match exactly);
  - float64 (and decimal) values rounded to 6 decimal places;
  - timestamps rendered as naive UTC ISO strings;
  - rows sorted;

then md5 of the canonical rows. It prints one line per mismatch and a last
line `FAILS: [...]`, and exits 1 if any query fails (a query whose Spark
output is missing or whose SQL errors counts as a failure).
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

NULL = "\x00NULL"


def canon(v):
    """One value as a canonical string (None for SQL NULL)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        return repr(r + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(canon(x)) for x in v) + "]"
    return str(v)


def digest(table):
    """(sorted column names, row count, md5 of the normalized rows)."""
    cols = sorted(table.column_names)
    table = table.select(cols)
    rows = sorted(
        tuple(NULL if c is None else c for c in (canon(v) for v in row.values()))
        for row in table.to_pylist())
    h = hashlib.md5()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return cols, len(rows), h.hexdigest()


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    out, sf = sys.argv[1], sys.argv[2]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for f in sorted(os.listdir(sf)):
        if f.endswith(".parquet"):
            path = os.path.join(sf, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')")
    fails = []
    for name in sorted(oracle):
        got_dir = os.path.join(out, name)
        try:
            if not os.path.isdir(got_dir):
                raise RuntimeError("no Spark output")
            got = digest(pq.read_table(got_dir))
            want = digest(con.execute(oracle[name]).arrow())
        except Exception as e:  # a broken query is a failure, not a crash
            print(f"{name}: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}")
            fails.append(name)
            continue
        if got != want:
            i = 0 if got[0] != want[0] else 1 if got[1] != want[1] else 2
            what = ("columns", "row count", "row md5")[i]
            print(f"{name}: {what} differ: spark {got[i]} vs duckdb {want[i]}")
            fails.append(name)
    print(f"checked {len(oracle)} queries")
    print(f"FAILS: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()

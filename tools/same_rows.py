#!/usr/bin/env python3
"""Row-for-row comparison of two graft.Verify dumps.

Usage: python3 tools/same_rows.py <dirA> <dirB> [query ...]

Verify's parquet dumps are not byte-reproducible (a few bytes differ between
two runs of one tree), so "same rows as another tree" is checked on decoded
rows. For each query (default: every query dir in either dump) this decodes
<dir>/<query>/*.parquet with DuckDB, part files in name order, and compares
the two dumps column names, column types and rows, in order. Prints SAME or
DIFF per query, with the first differing row; exits 1 on any DIFF or on a
query missing from either dump. NOT part of the shipped library: dev tooling.
"""
import glob
import math
import os
import sys

import duckdb


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in v.items())
    return v


def decode(con, qdir):
    """(column names and types, rows) of one query dump, part files in name order."""
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None
    cols, rows = None, []
    for f in files:
        cur = con.execute("SELECT * FROM read_parquet(?)", [f])
        shape = [(d[0], str(d[1])) for d in cur.description]
        if cols is None:
            cols = shape
        elif shape != cols:
            raise ValueError(f"{f}: columns {shape} differ from the first part's {cols}")
        rows.extend(tuple(norm(x) for x in r) for r in cur.fetchall())
    return cols, rows


def queries(d):
    return {n for n in os.listdir(d) if glob.glob(os.path.join(d, n, "*.parquet"))}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(queries(a) | queries(b))
    con = duckdb.connect()
    bad = []
    for name in names:
        da, db = decode(con, os.path.join(a, name)), decode(con, os.path.join(b, name))
        if da is None or db is None:
            bad.append(name)
            print(f"DIFF {name}: missing from {a if da is None else b}")
            continue
        (ca, ra), (cb, rb) = da, db
        if ca != cb:
            bad.append(name)
            print(f"DIFF {name}: columns {ca} vs {cb}")
            continue
        first = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y), None)
        if first is None and len(ra) == len(rb):
            print(f"SAME {name} ({len(ra)} rows)")
            continue
        bad.append(name)
        if first is None:
            first = min(len(ra), len(rb))
        row = lambda rs: rs[first] if first < len(rs) else "<no row>"
        print(f"DIFF {name}: {len(ra)} vs {len(rb)} rows; first difference at row {first}:\n"
              f"  A {row(ra)}\n  B {row(rb)}")
    print(f"\n{len(names) - len(bad)} same, {len(bad)} differ" + (f": {bad}" if bad else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

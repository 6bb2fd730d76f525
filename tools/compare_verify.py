#!/usr/bin/env python3
"""Compare two graft.Verify output directories entry by entry.

Usage: python3 tools/compare_verify.py <parent_out> <change_out>

Each entry is a <name>/ directory of parquet files. Both sides are read
with DuckDB, their columns put in name order and their rows sorted, and
the two row lists compared exactly (NaN equals NaN). An entry present on
one side only counts as differing. Prints one line per differing entry,
then "N equal, M differ"; exits 1 when any entry differs.
"""
import math
import os
import sys

import duckdb


def entries(outdir):
    return {name for name in os.listdir(outdir)
            if os.path.isdir(os.path.join(outdir, name))
            and any(f.endswith(".parquet")
                    for f in os.listdir(os.path.join(outdir, name)))}


def norm(v):
    """A comparable form of one value: NaN equals NaN, lists recurse."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def table(con, outdir, name):
    res = con.execute(
        f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
    cols = [d[0] for d in res.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in res.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    names = sorted(entries(parent) | entries(change))
    n_equal = n_differ = 0
    for name in names:
        try:
            a, b = table(con, parent, name), table(con, change, name)
        except Exception as e:  # missing on one side, unreadable file
            print(f"DIFFER {name}: {type(e).__name__}: {e}")
            n_differ += 1
            continue
        if a == b:
            n_equal += 1
        else:
            (ca, ra), (cb, rb) = a, b
            why = (f"columns {ca} vs {cb}" if ca != cb
                   else f"{len(ra)} vs {len(rb)} rows" if len(ra) != len(rb)
                   else f"{sum(x != y for x, y in zip(ra, rb))} rows differ")
            print(f"DIFFER {name}: {why}")
            n_differ += 1
    print(f"{n_equal} equal, {n_differ} differ")
    sys.exit(1 if n_differ else 0)


if __name__ == "__main__":
    main()

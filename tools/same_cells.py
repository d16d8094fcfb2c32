#!/usr/bin/env python3
"""Cell identity of two graft.Verify dump dirs (a parent's and a change's).

Usage: python3 tools/same_cells.py <parentOutDir> <changeOutDir> [q1,q2,...]

For each query dumped in <parentOutDir> (or each one listed), checks that
<changeOutDir> holds the same column names and types and the same multiset
of rows, compared exactly in DuckDB. Exits non-zero when any query differs
or is missing.
"""
import os, sys
import duckdb


def main(a, b, only=None):
    qs = only or sorted(d for d in os.listdir(a) if os.path.isdir(os.path.join(a, d)))
    con = duckdb.connect()
    bad = 0
    for q in qs:
        pa, pb = (os.path.join(d, q, "*.parquet") for d in (a, b))
        if not all(os.path.isdir(os.path.join(d, q)) for d in (a, b)):
            print(f"MISSING {q}")
            bad += 1
            continue
        read = lambda p: f"SELECT * FROM read_parquet('{p}')"
        schema = lambda p: [r[:2] for r in con.execute(f"DESCRIBE {read(p)}").fetchall()]
        if schema(pa) != schema(pb):
            print(f"SCHEMA  {q}: {schema(pa)} vs {schema(pb)}")
            bad += 1
            continue
        only_a, only_b = (con.execute(
            f"SELECT count(*) FROM ({read(x)} EXCEPT ALL {read(y)})").fetchone()[0]
            for x, y in ((pa, pb), (pb, pa)))
        rows = con.execute(f"SELECT count(*) FROM ({read(pa)})").fetchone()[0]
        if only_a or only_b:
            print(f"DIFF    {q}: {only_a} rows only in {a}, {only_b} only in {b}")
            bad += 1
        else:
            print(f"SAME    {q} ({rows} rows)")
    print(f"\n{len(qs) - bad} identical, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))

#!/usr/bin/env python3
"""Exact comparison of two graft.Verify dumps: every query's output must
have the same schema and the same rows, compared as sorted row lists
with no tolerance (a float equal to the last bit, a NULL where a NULL
is). Used by tools/gate.sh to check that results do not depend on the
core count. Dev tool only, not part of the library.

Usage: python3 tools/same_rows.py <dumpA> <dumpB>
Prints one line per differing query and a summary; exits 1 when any
query differs or is missing from either dump.
"""
import os
import sys

import pyarrow.parquet as pq


def queries(dump):
    return {d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d))}


def sorted_rows(table):
    # repr keeps every bit of a float and tells None from a value, and
    # orders rows whatever mix of types and NULLs their cells hold
    return sorted(repr(tuple(r.values())) for r in table.to_pylist())


def compare(a, b, name):
    ta = pq.read_table(os.path.join(a, name))
    tb = pq.read_table(os.path.join(b, name))
    if ta.schema != tb.schema:
        return f"schema {ta.schema} vs {tb.schema}"
    if ta.num_rows != tb.num_rows:
        return f"rows {ta.num_rows} vs {tb.num_rows}"
    ra, rb = sorted_rows(ta), sorted_rows(tb)
    if ra != rb:
        diff = sum(x != y for x, y in zip(ra, rb))
        first = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y)
        return f"{diff} sorted rows differ, first {ra[first]} vs {rb[first]}"
    return None


def main():
    a, b = sys.argv[1], sys.argv[2]
    qa, qb = queries(a), queries(b)
    missing = sorted(qa ^ qb)
    for name in missing:
        print(f"MISSING {name}: only in {a if name in qa else b}")
    differ = 0
    for name in sorted(qa & qb):
        problem = compare(a, b, name)
        if problem:
            print(f"DIFFER {name}: {problem}")
            differ += 1
    print(f"== same={len(qa & qb) - differ} differ={differ} missing={len(missing)}")
    sys.exit(1 if differ or missing else 0)


if __name__ == "__main__":
    main()

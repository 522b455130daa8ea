#!/usr/bin/env python3
"""Width-independence check: compare two graft.Verify dumps row for row.

Usage: python3 tools/width_check.py <verifyOutDirA> <verifyOutDirB>

Run Verify twice over the same sf directory at two parallelism widths
(SPARK_GRAFT_CPUS=3 and =8, say) and pass both output directories. For
every query dump present in either directory this compares the two
results as MULTISETS of rows (row order is not part of a query's
contract): same column names, same rows, each with the same
multiplicity. Values compare exactly — floats by their full repr, so a
sum whose rounding depends on the partition count is reported, not
forgiven. Prints one line per differing or one-sided query and a
summary; exits 1 if any query differs.

Join shapes follow measured sizes and several operators size their
exchanges from the session's width, so a result that depends on width
is a bug this check exists to catch.
"""
import math
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def canon(v):
    """A hashable, exact, type-tagged form of one cell."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v).hex())
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return (type(v).__name__, str(v))


def rows_of(path):
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    t = t.select(cols)
    return cols, Counter(tuple(canon(r[c]) for c in cols) for r in t.to_pylist())


def dumps(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def compare(path_a, path_b):
    """None when the two dumps hold the same multiset of rows, else why not."""
    cols_a, rows_a = rows_of(path_a)
    cols_b, rows_b = rows_of(path_b)
    if cols_a != cols_b:
        return f"columns differ: {cols_a} vs {cols_b}"
    if rows_a == rows_b:
        return None
    only_a, only_b = rows_a - rows_b, rows_b - rows_a
    n_a, n_b = sum(rows_a.values()), sum(rows_b.values())
    example = next(iter(only_a or only_b))
    side = "A" if only_a else "B"
    return (f"{n_a} vs {n_b} rows; {sum(only_a.values())} only in A, "
            f"{sum(only_b.values())} only in B; e.g. {side}: "
            f"{ {c: v[-1] for c, v in zip(cols_a, example)} }")


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    dir_a, dir_b = argv[1], argv[2]
    names_a, names_b = dumps(dir_a), dumps(dir_b)
    bad = 0
    for name in sorted(names_a ^ names_b):
        where = "A" if name in names_a else "B"
        print(f"ONE-SIDED {name}: dumped only in {where}")
        bad += 1
    same = sorted(names_a & names_b)
    for name in same:
        why = compare(os.path.join(dir_a, name), os.path.join(dir_b, name))
        if why:
            print(f"DIFF {name}: {why}")
            bad += 1
    print(f"{len(same)} queries in both dumps; {bad} differ or are one-sided")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

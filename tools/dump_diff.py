#!/usr/bin/env python3
"""Compare two graft.Verify dump directories by schema and decoded rows.

Usage: python3 tools/dump_diff.py <dumpDirA> <dumpDirB>

Each query's subdirectory holds the parquet part files Verify wrote for
it. Two runs of unchanged code write the same rows but not always the
same bytes (parquet-mr writes each column chunk's encodings list from a
set, so its footer order varies), so this compares what the files decode
to:
  - the set of query subdirectories;
  - per query, the Arrow schema (field names, types, nullability);
  - per query, the rows as a multiset, the way tools/check.py compares a
    dump with its oracle. Values are compared by repr, so NaN equals NaN
    and -0.0 differs from 0.0.
Prints one line per differing query and a summary; exits 1 on any
difference, 0 when every dump is equal.
"""
import glob
import os
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq


def queries(root):
    return {n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))}


def read(root, name):
    files = sorted(glob.glob(os.path.join(root, name, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def diff(a, b):
    """None when the two tables are equal, else what differs."""
    if a is None or b is None:
        return None if a is None and b is None else "one side has no part files"
    if not a.schema.equals(b.schema, check_metadata=False):
        return f"schema {a.schema.to_string()!r} vs {b.schema.to_string()!r}"
    ra = Counter(map(repr, a.to_pylist()))
    rb = Counter(map(repr, b.to_pylist()))
    if ra == rb:
        return None
    only_a, only_b = ra - rb, rb - ra
    sample = next(iter(only_a or only_b))
    return (f"rows {a.num_rows} vs {b.num_rows}: {sum(only_a.values())} only in A, "
            f"{sum(only_b.values())} only in B, e.g. {sample[:200]}")


def main(dir_a, dir_b):
    qa, qb = queries(dir_a), queries(dir_b)
    missing = sorted(qa ^ qb)
    for name in missing:
        print(f"DIFF {name}: only in {'A' if name in qa else 'B'}")
    common = sorted(qa & qb)
    changed = 0
    for name in common:
        why = diff(read(dir_a, name), read(dir_b, name))
        if why:
            print(f"DIFF {name}: {why}")
            changed += 1
    print(f"== {len(common) - changed} equal, {changed} differ, "
          f"{len(missing)} in one dir only ==")
    return 1 if changed or missing else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

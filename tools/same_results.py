#!/usr/bin/env python3
"""Are two Verify result dumps the same, query by query?

Usage: tools/same_results.py A B [query-name ...]

A and B are two copies of a `graft.Verify` output directory (the
`/tmp/verify_out` that tools/verify.sh fills), e.g. one from the parent
commit and one from a change. For every query (all queries found in
either dump, or only the ones named) it compares the result parquet:
schema (column names, order and types), row count, and every value in
row order. Floats compare by bits, so -0.0 != 0.0 and NaN == NaN.
Prints one line per query and exits 1 if any query differs or is missing
on one side, 0 otherwise.
"""
import glob
import math
import os
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def queries(d):
    return {os.path.basename(os.path.dirname(p)) for p in glob.glob(f"{d}/*/*.parquet")}


def load(d, name):
    # part files in name order are the rows in the order Spark wrote them
    files = sorted(glob.glob(f"{d}/{name}/*.parquet"))
    return pa.concat_tables([pq.read_table(f) for f in files])


def bits(v):
    if isinstance(v, float):
        return ("f", struct.pack(">d", v) if not math.isnan(v) else b"nan")
    if isinstance(v, list):
        return ("l", tuple(bits(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple((k, bits(x)) for k, x in v.items()))
    return ("v", v)


def diff(a, b):
    if a.schema.names != b.schema.names:
        return f"columns {a.schema.names} != {b.schema.names}"
    types_a = [str(f.type) for f in a.schema]
    types_b = [str(f.type) for f in b.schema]
    if types_a != types_b:
        return f"types {types_a} != {types_b}"
    if a.num_rows != b.num_rows:
        return f"rows {a.num_rows} != {b.num_rows}"
    for i, (ra, rb) in enumerate(zip(a.to_pylist(), b.to_pylist())):
        if bits(list(ra.values())) != bits(list(rb.values())):
            return f"row {i}: {ra} != {rb}"
    return None


def main():
    if len(sys.argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a_dir, b_dir, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    names = sorted(only or (queries(a_dir) | queries(b_dir)))
    bad = 0
    for name in names:
        have = [bool(glob.glob(f"{d}/{name}/*.parquet")) for d in (a_dir, b_dir)]
        if not all(have):
            missing = [d for d, h in zip((a_dir, b_dir), have) if not h]
            print(f"DIFF {name}: no result in {', '.join(missing)}")
            bad += 1
            continue
        why = diff(load(a_dir, name), load(b_dir, name))
        if why:
            print(f"DIFF {name}: {why}")
            bad += 1
        else:
            print(f"same {name}")
    print(f"{len(names) - bad} same, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

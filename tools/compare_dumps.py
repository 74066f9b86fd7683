#!/usr/bin/env python3
"""Compare two `graft.Verify` dump directories entry by entry.

Usage: compare_dumps.py <dirA> <dirB>

Each entry is a parquet directory `<dir>/<name>/`. Its digest is a
sha256 over the column names and Arrow types (in schema order) plus the
rows, each rendered with repr() and then sorted, so row order does not
matter but every value, type and column name does. Prints one line per
entry that differs or exists on one side only, then `<same>/<total>
identical`. Exits 1 on any missing entry or mismatch, else 0.
"""
import hashlib
import os
import sys

import pyarrow.parquet as pq


def entries(root):
    return {n for n in os.listdir(root)
            if os.path.isdir(os.path.join(root, n))}


def digest(path):
    table = pq.read_table(path)
    h = hashlib.sha256()
    for field in table.schema:
        h.update(f"{field.name}\t{field.type}\n".encode())
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    rows = sorted(repr(row) for row in zip(*cols)) if cols else []
    for row in rows:
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest(), table.num_rows


def main(a, b):
    ea, eb = entries(a), entries(b)
    names = sorted(ea | eb)
    same = 0
    for name in names:
        if name not in ea or name not in eb:
            side = a if name not in ea else b
            print(f"MISSING {name}: absent from {side}")
            continue
        (da, na), (db, nb) = (digest(os.path.join(a, name)),
                              digest(os.path.join(b, name)))
        if da == db:
            same += 1
        else:
            print(f"DIFF {name}: {na} rows vs {nb} rows")
    print(f"{same}/{len(names)} identical")
    return 0 if same == len(names) else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

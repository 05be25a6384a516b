#!/usr/bin/env python3
"""Print the bytes, parquet file count and codec of each store under a
state directory.

    python3 scripts/state_bytes.py <state dir> [<state dir> ...]

A store is the directory that holds parquet files, with its trailing
per-partition directories folded in: hive-style `name=value` levels
(`__batch=3`, `__bgroup=7`, `batch=3`, `snap=2`) and the ledger's `b<id>`
batch directories. So `seen/agg/__batch=3/__bgroup=7/part-0.parquet`
counts under `seen/agg`, and `ledger/b3/part-0.parquet` under `ledger`.

`bytes` counts every file under the store (checksums, `_SUCCESS` and
marker files inside it too), as the benchmark's `state_bytes_ratio`
does; `files` counts the parquet files; `codec` lists the distinct
codecs of their column chunks, read from each footer. Files outside any
store (leases, witnesses, markers) are summed on the `(other)` line.
"""
import os
import re
import sys

import pyarrow.parquet as pq

_PARTITION = re.compile(r"^[^=]+=.*$|^b\d+$")


def store_of(rel_dir):
    parts = [] if rel_dir in ("", ".") else rel_dir.split(os.sep)
    while parts and _PARTITION.match(parts[-1]):
        parts.pop()
    return os.sep.join(parts) or "."


def codecs(path):
    meta = pq.ParquetFile(path).metadata
    return {meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)}


def scan(root):
    """{store: [bytes, parquet files, codecs]} and the bytes of the rest."""
    stores = {}
    for d, _, names in os.walk(root):
        rel = os.path.relpath(d, root)
        for n in names:
            if n.endswith(".parquet"):
                s = stores.setdefault(store_of(rel), [0, 0, set()])
                s[1] += 1
                s[2] |= codecs(os.path.join(d, n))
    other = 0
    for d, _, names in os.walk(root):
        rel = os.path.relpath(d, root)
        size = sum(os.path.getsize(os.path.join(d, n)) for n in names)
        owner = next((s for s in stores
                      if s == "." or rel == s or rel.startswith(s + os.sep)),
                     None)
        if owner is None:
            other += size
        else:
            stores[owner][0] += size
    return stores, other


def main(argv):
    if not argv:
        sys.exit(__doc__)
    for root in argv:
        stores, other = scan(root)
        print(f"{root}")
        print(f"  {'store':<32} {'bytes':>12} {'files':>6}  codec")
        for name in sorted(stores):
            size, files, cs = stores[name]
            print(f"  {name:<32} {size:>12} {files:>6}  "
                  f"{','.join(sorted(cs)) or '-'}")
        total = sum(s[0] for s in stores.values()) + other
        print(f"  {'(other)':<32} {other:>12}")
        print(f"  {'(total)':<32} {total:>12}")


if __name__ == "__main__":
    main(sys.argv[1:])

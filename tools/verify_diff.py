#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories entry by entry.

Each entry's parquet rows are rendered to canonical strings (floats to 9
significant digits, so a changed summation order does not count) and compared
as sorted multisets. Exits 1 on any difference, including a differing entry
set or a differing `_errors.json`.

Usage: tools/verify_diff.py <verifyDirA> <verifyDirB>
"""
import json
import math
import os
import sys

import pyarrow.parquet as pq


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, list):
        return [canon(x) for x in v]
    return v if v is None or isinstance(v, (int, str, bool)) else str(v)


def rows(path):
    t = pq.read_table(path)
    return sorted(json.dumps(canon(r), sort_keys=True, default=str) for r in t.to_pylist())


def entries(d):
    return {e for e in os.listdir(d) if os.path.isdir(os.path.join(d, e))}


def main(a, b):
    bad = []
    ea, eb = entries(a), entries(b)
    if ea != eb:
        bad.append(f"entry sets differ: only A {sorted(ea - eb)}, only B {sorted(eb - ea)}")
    for e in sorted(ea & eb):
        ra, rb = rows(os.path.join(a, e)), rows(os.path.join(b, e))
        if ra != rb:
            bad.append(f"{e}: {len(ra)} vs {len(rb)} rows, first difference "
                       f"{next((x, y) for x, y in zip(ra + [None], rb + [None]) if x != y)}")
    errs = [json.load(open(os.path.join(d, "_errors.json"))) for d in (a, b)]
    if errs[0] != errs[1]:
        bad.append(f"_errors.json differs: {errs[0]} vs {errs[1]}")
    for line in bad:
        print("DIFF", line)
    print(f"{len(ea & eb) - sum(1 for x in bad if not x.startswith(('entry', '_errors')))}"
          f"/{len(ea & eb)} entries identical")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

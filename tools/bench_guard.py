#!/usr/bin/env python3
"""Driver-series bench-drift guard.

The r12 and r13 verdicts both flagged the same blind spot: the >1.3x A/B
trigger keyed on the LOCAL battery, so the largest DRIVER movers
(q_search_in_search in r12, q_rio_roundtrip in r13) escaped adjudication.
This guard keys on the DRIVER series instead: it diffs the two newest
BENCH_r*.json per query and requires the newest QBENCH_AB_*.json to carry a
row for every entry that moved >1.3x with an absolute delta >0.5 s.

Exit 0 = clean or adjudicated; exit 1 = movers lack A/B rows (message lists
them). Called from tools/pre-commit; enforced when bench artifacts are being
committed, warn-only otherwise.
"""
import glob
import json
import re
import sys

RATIO = 1.3
ABS_SEC = 0.5


def driver_queries(path):
    """Extract the per-query dict from a driver BENCH_r*.json (the bench JSON
    line is embedded in the record's "tail" string)."""
    raw = open(path).read()
    try:
        rec = json.loads(raw)
        tail = rec.get("tail", raw)
    except Exception:
        tail = raw
    i = tail.find('{"queries"')
    if i >= 0:
        try:
            obj, _ = json.JSONDecoder().raw_decode(tail[i:])
            return obj.get("queries")
        except Exception:
            pass
    # the driver keeps only the LAST 2000 output chars, so the line's head
    # (and a few leading entries) may be cut off — recover the surviving
    # "name":sec pairs from the fragment before the summary fields
    j = tail.find('},"metric"')
    if j < 0:
        return None
    frag = tail[:j]
    pairs = re.findall(r'"((?:q|p)_[A-Za-z0-9_]+)":(-?[0-9.]+)', frag)
    return {k: float(v) for k, v in pairs} or None


def main():
    benches = sorted(glob.glob("BENCH_r*.json"),
                     key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    if len(benches) < 2:
        return 0
    old_p, new_p = benches[-2], benches[-1]
    old_q, new_q = driver_queries(old_p), driver_queries(new_p)
    if not old_q or not new_q:
        return 0
    movers = []
    for k, nv in new_q.items():
        ov = old_q.get(k)
        if ov is None or ov <= 0 or nv <= 0:
            continue
        ratio = nv / ov if nv >= ov else ov / nv
        if ratio > RATIO and abs(nv - ov) > ABS_SEC:
            movers.append((k, ov, nv))
    if not movers:
        return 0
    abs_files = sorted(glob.glob("QBENCH_AB_*.json"),
                       key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    rows = {}
    if abs_files:
        try:
            rows = json.load(open(abs_files[-1])).get("rows", {})
        except Exception:
            pass
    missing = [m for m in movers if m[0] not in rows]
    if not missing:
        return 0
    print("[bench-guard] DRIVER-series movers (%s -> %s) lacking A/B rows in %s:"
          % (old_p, new_p, abs_files[-1] if abs_files else "<no QBENCH_AB_* file>"))
    for k, ov, nv in missing:
        print("  %-24s %.2f -> %.2f s (%.2fx)" % (k, ov, nv, nv / ov))
    print("[bench-guard] add min-of-N rows for these entries (SPARK_GRAFT_ONLY=<names> "
          "SPARK_GRAFT_BENCH_ITERS=N graft.Bench, or graft.tools.Profile <names> <sfDir> N) "
          "before committing bench artifacts.")
    return 1


if __name__ == "__main__":
    sys.exit(main())

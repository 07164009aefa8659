"""Compare two BENCH_DETAIL.json artifacts from a same-conditions A/B
(old tree vs new tree benched back-to-back on an idle host).

Usage:
    python tools/ab_compare.py OLD_DETAIL.json NEW_DETAIL.json

Prints the calib ratio (validity check first — a ratio far from 1.0
means the HOST changed between the runs, not the code), the common-
subset min-total ratio, per-section mount/layout deltas, and the largest
per-query movers in both directions.
"""

from __future__ import annotations

import json
import sys


def main(old_path: str, new_path: str) -> None:
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    co, cn = old.get("calib"), new.get("calib")
    vo, vn = old.get("calib_version", 1), new.get("calib_version", 1)
    if vo != vn:
        print(f"calib: INCOMPARABLE (version {vo} vs {vn} — v1 had a "
              "subnormal-float stall; see bench.py cpu_calibration)")
    else:
        print(f"calib: old={co} new={cn} ratio={cn / co:.3f}" if co and cn else "calib: missing")
    print(f"load_start: old={old.get('load_start')} new={new.get('load_start')}")
    for key in ("queries_min", "queries_median"):
        qo, qn = old.get(key, {}), new.get(key, {})
        common = sorted(set(qo) & set(qn))
        to, tn = sum(qo[k] for k in common), sum(qn[k] for k in common)
        print(f"\n{key}: {len(common)} common queries, "
              f"old={to:.1f}s new={tn:.1f}s ratio={tn / to:.3f}")
        if key == "queries_min":
            movers = sorted(common, key=lambda k: qn[k] - qo[k])
            print("  biggest improvements:")
            for k in movers[:8]:
                print(f"    {k:32s} {qo[k]:7.2f} -> {qn[k]:7.2f}")
            print("  biggest regressions:")
            for k in movers[-5:]:
                print(f"    {k:32s} {qo[k]:7.2f} -> {qn[k]:7.2f}")
    for sect in ("mount",):
        so, sn = old.get(sect, {}), new.get(sect, {})
        common = sorted(set(so) & set(sn))
        print(f"\n{sect}:")
        for k in common:
            print(f"    {k:32s} {so[k]:9.3f} -> {sn[k]:9.3f}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])

#!/usr/bin/env python3
"""Compare two graft bench artifacts (bench_times*.json).

Usage: python3 scripts/bench_compare.py <old.json> <new.json> [topN]

Prints totals (raw + calibration-normalized when both artifacts carry
calibration samples), query-count deltas, and the topN largest per-query
movers with ratios. Calibration normalization divides each artifact's
total by its calib_start, the same divisor graft.Bench uses for its
calibrated_total, so cross-run comparisons factor out host speed (the
ruler is JIT-sensitive across cold sessions; calib_end well above
calib_start flags mid-run contention).
Dev-tool only (driver-side python env); the shipped library is Scala.
"""
import json, sys

def load(p):
    d = json.load(open(p))
    qs = {k: v["sec"] for k, v in d["queries"].items() if v.get("ok", True)}
    calib = None
    if "calib_start_sec" in d:
        calib = d["calib_start_sec"]
    return d, qs, calib

def main():
    old_p, new_p = sys.argv[1], sys.argv[2]
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    do, qo, co = load(old_p)
    dn, qn, cn = load(new_p)
    print(f"old: {do.get('total_sec')}s / {len(qo)} queries "
          f"(run_kind={do.get('run_kind')}, repeat={do.get('repeat')}, calib={co})")
    print(f"new: {dn.get('total_sec')}s / {len(qn)} queries "
          f"(run_kind={dn.get('run_kind')}, repeat={dn.get('repeat')}, calib={cn})")
    if co and cn:
        print(f"host-normalized totals: old {do['total_sec']/co:.1f} "
              f"new {dn['total_sec']/cn:.1f} (total / calib ruler)")
    only_old = sorted(set(qo) - set(qn))
    only_new = sorted(set(qn) - set(qo))
    if only_old:
        print(f"removed ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"added ({len(only_new)}): {', '.join(only_new)} "
              f"(+{sum(qn[k] for k in only_new):.1f}s)")
    both = [(k, qo[k], qn[k]) for k in qn if k in qo]
    movers = sorted(both, key=lambda t: -abs(t[2] - t[1]))[:top_n]
    print(f"\ntop {top_n} movers (by absolute delta):")
    for k, a, b in movers:
        ratio = b / a if a > 0 else float("inf")
        print(f"  {k:36s} {a:7.2f} -> {b:7.2f}  ({ratio:5.2f}x, {b-a:+6.2f}s)")

if __name__ == "__main__":
    main()

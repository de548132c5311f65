#!/usr/bin/env python3
"""Compare benchmark artifacts of a parent commit and a change.

    python3 perfbench/compare.py <parent artifacts...> -- <change artifacts...>

Each artifact is a result file `perfbench/run.py` writes (a directory
stands for every `*.json` in it). Runs pair up by workload and seed, so
make them alternating: parent and change on the same seed, one after
the other, alternating which goes first.

For every workload x end-to-end metric (bounds from BENCHMARK.json) the
label is, by the rule of the choosing-metrics guide:

  improved    at least 10 pairs, the change wins at least 9 in 10 of
              them (ties count for neither side), and the medians differ
              by more than the parent's interquartile range;
  worse       the same rule in the other direction, or the change's
              median worse than the parent's by more than the bound;
  unresolved  fewer than 10 pairs, or the parent's spread (IQR / median)
              is wider than the bound and neither side wins every pair;
  unchanged   otherwise.

Traced artifacts (--trace 1) also get their exact counters diffed per
seed (spark.jobs, spark.stages, spark.tasks, plans.*): equal counters
with moved wall time mean the host moved, not the plan.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "plans.")
MIN_PAIRS = 10
WIN_RATE = 0.9


def load(paths):
    out = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) \
            if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                out.append(json.load(fh))
    return out


def iqr(xs):
    if len(xs) < 2:
        return float("inf")
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def label(parent, change, bound, lower_better=True):
    """(label, details) for paired samples of one metric."""
    sign = 1 if lower_better else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    spread = iqr(parent)
    d = {"pairs": len(pairs), "wins": wins, "losses": losses,
         "parent_median": mp, "change_median": mc, "parent_iqr": spread,
         "parent_quartiles": statistics.quantiles(parent, n=4)
         if len(parent) > 1 else None,
         "change_quartiles": statistics.quantiles(change, n=4)
         if len(change) > 1 else None}
    worse_by = sign * (mc - mp) / mp if mp else 0.0
    d["change_vs_parent"] = worse_by
    enough = len(pairs) >= MIN_PAIRS
    if enough and wins >= WIN_RATE * len(pairs) and abs(mc - mp) > spread \
            and sign * (mc - mp) < 0:
        return "improved", d
    if worse_by > bound or (enough and losses >= WIN_RATE * len(pairs)
                            and abs(mc - mp) > spread):
        return "worse", d
    every_better = all(sign * (c - p) < 0 for p in parent for c in change)
    if not enough or (mp and spread / mp > bound and not every_better):
        return "unresolved", d
    return "unchanged", d


def by_key(arts, trace):
    out = {}
    for a in arts:
        if a.get("trace") != trace:
            continue
        out.setdefault(a["workload"], {})[a["info"]["seed"]] = a
    return out


def main(argv):
    if "--" not in argv:
        raise SystemExit(__doc__)
    cut = argv.index("--")
    parent, change = load(argv[:cut]), load(argv[cut + 1:])
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    report = {"end_to_end": {}, "counters": {}}
    p0, c0 = by_key(parent, 0), by_key(change, 0)
    for wl in sorted(set(p0) | set(c0)):
        seeds = sorted(set(p0.get(wl, {})) & set(c0.get(wl, {})))
        for m in bench["end_to_end"]:
            name = m["name"]
            ps = [p0[wl][s]["end_to_end"][name]["value"] for s in seeds]
            cs = [c0[wl][s]["end_to_end"][name]["value"] for s in seeds]
            if not ps:
                lab, d = "unresolved", {"pairs": 0}
            else:
                lab, d = label(ps, cs, m["bound"], m["better"] == "lower")
            report["end_to_end"][f"{wl}.{name}"] = dict(label=lab, **d)
    p1, c1 = by_key(parent, 1), by_key(change, 1)
    for wl in sorted(set(p1) | set(c1)):
        for s in sorted(set(p1.get(wl, {})) & set(c1.get(wl, {}))):
            pl, cl = p1[wl][s]["per_layer"], c1[wl][s]["per_layer"]
            diff = {k: [pl[k]["value"], cl.get(k, {}).get("value")]
                    for k in sorted(pl) if k.startswith(EXACT)
                    and pl[k]["value"] != cl.get(k, {}).get("value")}
            report["counters"][f"{wl}.seed{s}"] = diff or "equal"
    for k, v in report["end_to_end"].items():
        print(f"{k}: {v['label']} (pairs {v.get('pairs', 0)})")
    for k, v in report["counters"].items():
        print(f"counters {k}: {v if v == 'equal' else 'differ ' + json.dumps(v)}")
    print(json.dumps(report, sort_keys=True))


if __name__ == "__main__":
    main(sys.argv[1:])

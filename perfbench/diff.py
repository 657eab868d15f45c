#!/usr/bin/env python3
"""Layer-by-layer comparison of two sets of benchmark artifacts.

Usage: python3 perfbench/diff.py BASE.json [BASE.json ...] -- HEAD.json [HEAD.json ...]

Each side is one or more artifacts written by run.py: single runs
(.bench_out/<workload>-s<seed>-t<trace>.json) or `--all` summaries
(.bench_out/all-s<seed>.json). Give several runs per side, with different
seeds, to resolve small changes.

1. Every end-to-end metric of BENCHMARK.json, per workload, is judged
   against its bound: `worse` when the head's median is worse than the
   base's by more than the bound; `unresolved` when the base's own
   run-to-run spread (interquartile range over median, or the full range
   with fewer than four runs) is wider than the bound, unless every head
   run reads better than every base run (`better`); `better` when the head
   improves on the base by more than that spread; `same` otherwise.
2. Every per-layer metric is printed as base → head with its delta.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def records(paths):
    """(workload, kind, values) from single-run or --all artifacts."""
    out = []
    for p in paths:
        with open(p) as f:
            a = json.load(f)
        if "workloads" in a:
            for w, r in a["workloads"].items():
                out.append((w, "end_to_end", {k: v["value"] for k, v in r["metrics"].items()}))
                out.append((w, "per_layer", r["per_layer"]))
        else:
            w = a["provenance"]["workload"]
            out.append((w, "end_to_end", {k: v["value"] for k, v in a["metrics"].items()}))
            if a["per_layer"]:
                out.append((w, "per_layer", a["per_layer"]))
    return out


def collect(recs, kind):
    by = {}
    for w, k, vals in recs:
        if k == kind:
            for name, v in vals.items():
                if v is not None:
                    by.setdefault((w, name), []).append(v)
    return by


def spread(xs):
    m = statistics.median(xs)
    if not m:
        return 0.0
    if len(xs) >= 4:
        q = statistics.quantiles(xs, n=4)
        return (q[2] - q[0]) / abs(m)
    return (max(xs) - min(xs)) / abs(m) if len(xs) > 1 else float("inf")


def verdict(base, head, better, bound):
    mb, mh = statistics.median(base), statistics.median(head)
    sign = 1 if better == "lower" else -1
    change = sign * (mb - mh) / abs(mb) if mb else 0.0  # > 0: head is better
    s = spread(base)
    all_better = all(sign * (b - h) > 0 for b in base for h in head)
    if change < -bound:
        v = "unresolved" if s > bound and not all_better else "worse"
    elif s > bound:
        v = "better" if all_better else "unresolved"
    elif change > s:
        v = "better"
    else:
        v = "same"
    return v, mb, mh, change, s


def main():
    args = sys.argv[1:]
    if "--" not in args:
        sys.exit(__doc__)
    i = args.index("--")
    base, head = records(args[:i]), records(args[i + 1:])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    eb, eh = collect(base, "end_to_end"), collect(head, "end_to_end")
    print("end-to-end (median base -> median head; change > 0 is better)")
    bad = 0
    for w in sorted({w for w, _ in eb}):
        for m in bench["end_to_end"]:
            key = (w, m["name"])
            if key not in eb or key not in eh:
                continue
            v, mb, mh, ch, s = verdict(eb[key], eh[key], m["better"], m["bound"])
            bad += v == "worse"
            print("  %-10s %-14s %10.4g -> %-10.4g %s  change %+.1f%%  base spread %.1f%%  bound %.0f%%  "
                  "runs %d/%d  %s" % (w, m["name"], mb, mh, m["unit"], 100 * ch, 100 * s,
                                      100 * m["bound"], len(eb[key]), len(eh[key]), v.upper()))
    lb, lh = collect(base, "per_layer"), collect(head, "per_layer")
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    print("per-layer (median base -> median head)")
    for w, name in sorted(k for k in lb if k in lh):
        b, h = statistics.median(lb[(w, name)]), statistics.median(lh[(w, name)])
        rel = " (%+.1f%%)" % (100 * (h - b) / abs(b)) if b else ""
        print("  %-10s %-28s %12.5g -> %-12.5g %-6s delta %+.5g%s"
              % (w, name, b, h, units.get(name, ""), h - b, rel))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

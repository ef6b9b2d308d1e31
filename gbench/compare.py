#!/usr/bin/env python3
"""Compare two sets of benchmark runs, for example parent and change.

    python3 gbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run records written by gbench/run.py (its `--out`,
or `.bench_build/results`). Untraced records only. For every workload and
end-to-end metric it prints each side's median, quartiles and run count,
the share of pairs the change won, and one verdict:

  improved      the change wins at least 9/10 of the pairs (ties count for
                neither side) and the medians differ by more than the
                parent's own quartile spread;
  worse         the change's median is worse than the parent's by more
                than the metric's bound;
  within bound  neither, and both sides' quartile spreads are within the
                bound;
  unresolved    a side's spread is wider than the bound, unless every run
                of the change reads better than every run of the parent.

Pairs match runs by seed where both sides ran the same seeds, otherwise
by order. Bounds and directions come from BENCHMARK.json for the
end-to-end metrics and from EXTRA below for the workload-only ones.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# metrics that only some workloads measure: not gated by BENCHMARK.json,
# compared here with these bounds
EXTRA = {
    "render_p50_ms": ("lower", 0.25),
    "render_p90_ms": ("lower", 0.25),
    "render_rps": ("higher", 0.25),
    "find_p50_ms": ("lower", 0.25),
    "scan_points_per_s": ("higher", 0.25),
    "ingest_catchup_points_per_s": ("higher", 0.25),
    "ingest_visible_p50_s": ("lower", 0.25),
    "ingest_visible_p90_s": ("lower", 0.25),
}


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        p = r.get("provenance", {})
        if p.get("trace"):
            continue
        runs.setdefault(p["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(a, b, better, bound):
    """(verdict, share of pairs won by b) for the paired value lists a, b."""
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    won = sum(1 for x, y in pairs if sign * (y - x) > 0) / len(pairs)
    ma, mb = statistics.median(a), statistics.median(b)
    qa, qb = quartiles(a), quartiles(b)
    spread_a = (qa[1] - qa[0]) / abs(ma) if ma else float("inf")
    spread_b = (qb[1] - qb[0]) / abs(mb) if mb else float("inf")
    if won >= 0.9 and abs(mb - ma) > qa[1] - qa[0]:
        return "improved", won
    worse_by = sign * (ma - mb) / abs(ma) if ma else 0.0
    if worse_by > bound:
        return "worse", won
    if spread_a > bound or spread_b > bound:
        all_better = all(sign * (y - x) > 0 for x in a for y in b)
        return ("within bound" if all_better else "unresolved"), won
    return "within bound", won


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    rules = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    rules.update(EXTRA)
    a_runs, b_runs = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':10} {'metric':28} {'A median [q1, q3] n':>34} "
          f"{'B median [q1, q3] n':>34} {'B won':>6}  verdict")
    worst = []
    for wl in sorted(set(a_runs) & set(b_runs)):
        A, B = a_runs[wl], b_runs[wl]
        seeds_a = [r["provenance"]["seed"] for r in A]
        seeds_b = [r["provenance"]["seed"] for r in B]
        if sorted(seeds_a) == sorted(seeds_b):
            A = sorted(A, key=lambda r: r["provenance"]["seed"])
            B = sorted(B, key=lambda r: r["provenance"]["seed"])
        for name, (better, bound) in rules.items():
            va = [r["metrics"][name]["value"] for r in A if name in r["metrics"]]
            vb = [r["metrics"][name]["value"] for r in B if name in r["metrics"]]
            if not va or not vb:
                continue
            v, won = verdict(va, vb, better, bound)
            qa, qb = quartiles(va), quartiles(vb)
            unit = A[0]["metrics"][name]["unit"]
            fa = f"{statistics.median(va):.4g} [{qa[0]:.4g}, {qa[1]:.4g}] {len(va)}"
            fb = f"{statistics.median(vb):.4g} [{qb[0]:.4g}, {qb[1]:.4g}] {len(vb)}"
            print(f"{wl:10} {name + ' (' + unit + ')':28} {fa:>34} {fb:>34} "
                  f"{won:6.2f}  {v} (bound {bound:g})")
            if v in ("worse", "unresolved"):
                worst.append((wl, name, v))
    print(f"{len(worst)} metric(s) worse or unresolved" if worst
          else "every metric improved or within bound")


if __name__ == "__main__":
    main()

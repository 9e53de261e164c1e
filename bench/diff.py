#!/usr/bin/env python3
"""Compare two sets of benchmark artifacts and rank what moved.

    python3 bench/diff.py BEFORE_DIR AFTER_DIR [--top N]

Each directory holds the artifacts ``bench/run.py`` writes to
``.bench_runs/artifacts/`` (copy that directory away between the two sets).
For every workload present in both sets it prints:

* the end-to-end metrics: median and quartile spread of each side over its
  untraced runs, and the change of the medians;
* the tracing overhead of each side: median traced ``cold_s`` minus median
  untraced ``cold_s``;
* the movers of the cold pass, ranked by the change in seconds: every
  query (``op:<name>``) or ETL stage span, with its change in Spark jobs,
  shuffle-write bytes and spill bytes from the traced runs beside it;
* the per-layer metrics, ranked by relative change;
* fingerprints that differ between the two sets for the same seed and
  query, and any warm pass whose fingerprint differs from its cold pass.
"""
import argparse
import glob
import json
import os
import statistics
from collections import defaultdict


def load(d):
    runs = defaultdict(lambda: {"plain": [], "traced": []})
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            a = json.load(f)
        spans_file = p[:-5] + ".spans.jsonl"
        if a["trace"] and os.path.exists(spans_file):
            with open(spans_file) as f:
                a["spans"] = [json.loads(line) for line in f]
        runs[a["workload"]]["traced" if a["trace"] else "plain"].append(a)
    return runs


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def spread(xs):
    """Quartile distance as a share of the median."""
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else float("nan")


def pct(a, b):
    return (b - a) / a * 100 if a else float("nan")


def cold_units(run):
    """name -> [seconds, jobs, shuffle_write, spill] for every span of the
    cold pass (counts include the span's descendants)."""
    spans = run["spans"]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def total(s, key):
        return s[key] + sum(total(k, key) for k in kids[s["id"]])

    cold = next(s for s in spans if s["name"] == "pass:cold")
    out = defaultdict(lambda: [0.0, 0, 0, 0])
    stack = list(kids[cold["id"]])
    while stack:
        s = stack.pop()
        stack += kids[s["id"]]
        u = out[s["name"]]
        u[0] += (s["end_ns"] - s["start_ns"]) / 1e9
        u[1] += total(s, "jobs")
        u[2] += total(s, "shuffle_write")
        u[3] += total(s, "spill")
    return out


def op_seconds(runs):
    """op:<name> -> cold seconds per untraced run (registry queries)."""
    out = defaultdict(list)
    for r in runs:
        for o in r["ops"]:
            if o["pass"] == "cold" and o["name"] != r["workload"]:
                out[f"op:{o['name']}"].append(o["seconds"])
    return out


def median_units(traced):
    per = defaultdict(list)
    for r in traced:
        for k, v in cold_units(r).items():
            per[k].append(v)
    return {k: [med([v[i] for v in vs]) for i in range(4)] for k, vs in per.items()}


def report(name, a, b, top):
    print(f"\n=== {name} ===")
    pa, pb = a["plain"], b["plain"]
    print(f"untraced runs: {len(pa)} vs {len(pb)}; traced runs: "
          f"{len(a['traced'])} vs {len(b['traced'])}")
    if pa and pb:
        print(f"{'metric':<16}{'before':>12}{'spread':>8}{'after':>12}{'spread':>8}{'change':>9}")
        for k in pa[0]["end_to_end"]:
            xa = [r["end_to_end"][k] for r in pa]
            xb = [r["end_to_end"][k] for r in pb]
            print(f"{k:<16}{med(xa):>12.4f}{spread(xa):>8.1%}{med(xb):>12.4f}"
                  f"{spread(xb):>8.1%}{pct(med(xa), med(xb)):>8.1f}%")
    for side, s in (("before", a), ("after", b)):
        if s["plain"] and s["traced"]:
            plain = med([r["end_to_end"]["cold_s"] for r in s["plain"]])
            traced = med([r["per_layer"]["trace.cold_s"] for r in s["traced"]])
            print(f"tracing overhead ({side}): {traced - plain:+.3f}s "
                  f"({pct(plain, traced):+.1f}% of untraced cold_s)")

    ua, ub = median_units(a["traced"]), median_units(b["traced"])
    sa, sb = op_seconds(pa), op_seconds(pb)
    rows = []
    for k in sorted(set(ua) | set(ub) | set(sa) | set(sb)):
        x, y = ua.get(k, [0.0, 0, 0, 0]), ub.get(k, [0.0, 0, 0, 0])
        ta = med(sa[k]) if sa.get(k) else x[0]
        tb = med(sb[k]) if sb.get(k) else y[0]
        rows.append((tb - ta, k, ta, tb, y[1] - x[1], y[2] - x[2], y[3] - x[3]))
    if rows:
        print(f"\ncold-pass movers (seconds: untraced medians where the op is"
              f" timed untraced, else traced; counts: traced medians)")
        print(f"{'span':<34}{'before s':>10}{'after s':>10}{'delta s':>9}"
              f"{'d jobs':>8}{'d shuffle B':>13}{'d spill B':>11}")
        for d, k, ta, tb, dj, dsh, dsp in sorted(rows, key=lambda r: -abs(r[0]))[:top]:
            print(f"{k:<34}{ta:>10.3f}{tb:>10.3f}{d:>+9.3f}{dj:>+8.0f}"
                  f"{dsh:>+13.0f}{dsp:>+11.0f}")

    la, lb = a["traced"], b["traced"]
    if la and lb:
        moved = []
        for k in la[0]["per_layer"]:
            x = med([r["per_layer"][k] for r in la])
            y = med([r["per_layer"][k] for r in lb])
            if x or y:
                moved.append((abs(pct(x, y)) if x else float("inf"), k, x, y))
        print(f"\nper-layer metrics (traced medians), largest relative change first")
        for rel, k, x, y in sorted(moved, reverse=True)[:top]:
            print(f"{k:<28}{x:>16.4f}{y:>16.4f}{pct(x, y):>+9.1f}%")

    fa = {(r["seed"], o["name"]): o["hash"] for r in pa for o in r["ops"]
          if o["pass"] == "cold" and o["hash"]}
    fb = {(r["seed"], o["name"]): o["hash"] for r in pb for o in r["ops"]
          if o["pass"] == "cold" and o["hash"]}
    changed = sorted(k for k in set(fa) & set(fb) if fa[k] != fb[k])
    warm = sorted({(side, r["seed"], o["name"]) for side, s in (("before", pa), ("after", pb))
                   for r in s for o in r["ops"] if o.get("fingerprint_changed")})
    print(f"\nfingerprints compared: {len(set(fa) & set(fb))}, changed: {len(changed)}")
    for seed, q in changed:
        print(f"  CHANGED seed {seed} {q}: {fa[(seed, q)]} -> {fb[(seed, q)]}")
    for side, seed, q in warm:
        print(f"  WARM != COLD ({side}) seed {seed} {q}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    common = [w for w in before if w in after]
    if not common:
        raise SystemExit("no workload appears in both artifact sets")
    for w in common:
        report(w, before[w], after[w], a.top)


if __name__ == "__main__":
    main()

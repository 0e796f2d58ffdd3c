#!/usr/bin/env python3
"""Compare two sets of benchmark results: a parent commit's and a change's.

    python3 perfbench/compare.py <parent_results> <change_results>

Each argument is a directory of result files that run.py keeps (by default
.bench_build/perfbench/results of each checkout) or a single such file.

Each side keeps only the runs of one version: the build and generator
hashes of its newest run. Runs of other versions (an older build in the same
checkout, or inputs from another generator) are counted and left out.

For every workload and end-to-end metric of BENCHMARK.json it prints both
sides' median and quartiles, the share of paired runs the change wins (runs
pair by seed, ties count for neither side), and the first verdict whose
rule holds:

  worse       the change has a smaller share of correct runs (output checks
              passed) than the parent;
  improved    the change wins at least 9/10 of at least ten pairs, the
              medians differ by more than the parent's interquartile range,
              and no more operations failed than at the parent;
  unresolved  the parent's own spread (IQR / median) is wider than the
              metric's bound, unless every change run beats every parent
              run, or a gain that fails the rule above;
  worse       the change's median is worse than the parent's by more than
              the bound;
  no worse    otherwise.

A faster change that returns wrong results therefore never counts as a gain.

From traced runs (--trace 1) it prints the per-layer medians of both sides
and their difference, and for each side that has traced and untraced runs
of a workload, the tracing overhead: traced minus untraced end-to-end
medians.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        sys.exit(f"compare: no results in {path}")
    newest = max(runs, key=lambda r: r.get("time", 0)).get("version")
    kept = [r for r in runs if r.get("version") == newest]
    if len(kept) < len(runs):
        print(f"{path}: {len(runs) - len(kept)} runs of other versions left out")
    print(f"{path}: {len(kept)} runs of version {newest}")
    return kept


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def by_workload(runs, trace):
    out = {}
    for r in runs:
        if r.get("trace") == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def values(runs, name):
    return [r["metrics"][name] for r in runs if r["metrics"].get(name) is not None]


def better(a, b, direction):
    """True when value a beats value b."""
    return a < b if direction == "lower" else a > b


def correct_share(runs):
    return sum(bool(r.get("correct")) for r in runs) / len(runs) if runs else 0.0


def verdict(parent, change, metric, p_failed, c_failed):
    name, direction, bound = metric["name"], metric["better"], metric["bound"]
    pv, cv = values(parent, name), values(change, name)
    if not pv or not cv:
        return None
    p_lo, p_med, p_hi = quartiles(pv)
    c_lo, c_med, c_hi = quartiles(cv)
    p_seed = {r["seed"]: r["metrics"].get(name) for r in parent}
    pairs = [(p_seed[r["seed"]], r["metrics"].get(name)) for r in change
             if r["seed"] in p_seed and p_seed[r["seed"]] is not None]
    wins = sum(better(c, p, direction) for p, c in pairs)
    win_frac = wins / len(pairs) if pairs else float("nan")
    spread = (p_hi - p_lo) / p_med if p_med else float("inf")
    worse_by = (c_med - p_med) / p_med if p_med else 0.0
    if direction == "higher":
        worse_by = -worse_by
    all_better = all(better(c, p, direction) for c in cv for p in pv)
    gain = (len(pairs) >= 10 and win_frac >= 0.9 and abs(c_med - p_med) > p_hi - p_lo
            and better(c_med, p_med, direction))
    if correct_share(change) < correct_share(parent):
        v = "worse (fewer correct runs)"
    elif gain and c_failed <= p_failed:
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif gain:
        v = "unresolved"  # more operations failed than at the parent
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return dict(metric=name, unit=metric["unit"], parent=(p_lo, p_med, p_hi),
                change=(c_lo, c_med, c_hi), pairs=len(pairs), win_frac=win_frac,
                spread=spread, bound=bound, delta=worse_by, verdict=v)


def fmt(q):
    return "/".join(f"{x:.4g}" for x in q)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])

    print("end-to-end (untraced runs): parent q1/median/q3 | change q1/median/q3")
    p0, c0 = by_workload(parent, 0), by_workload(change, 0)
    for w in sorted(set(p0) | set(c0)):
        pr, cr = p0.get(w, []), c0.get(w, [])
        p_failed = sum(r["failed"] for r in pr)
        c_failed = sum(r["failed"] for r in cr)
        print(f"{w}: {len(pr)} parent runs ({p_failed} failed ops, "
              f"{sum(bool(r.get('correct')) for r in pr)} correct), "
              f"{len(cr)} change runs ({c_failed} failed ops, "
              f"{sum(bool(r.get('correct')) for r in cr)} correct)")
        for m in spec["end_to_end"]:
            v = verdict(pr, cr, m, p_failed, c_failed)
            if v is None:
                print(f"  {m['name']:20s} missing on one side")
                continue
            print(f"  {v['metric']:20s} {fmt(v['parent'])} | {fmt(v['change'])} {v['unit']}"
                  f"  worse by {v['delta']:+.1%} (bound {v['bound']:.0%}, parent spread "
                  f"{v['spread']:.1%}), wins {v['win_frac']:.0%} of {v['pairs']} pairs"
                  f"  -> {v['verdict']}")

    p1, c1 = by_workload(parent, 1), by_workload(change, 1)
    if p1 or c1:
        print("\nper-layer (traced runs): parent median | change median | change - parent")
    for w in sorted(set(p1) | set(c1)):
        print(f"{w}: {len(p1.get(w, []))} parent runs, {len(c1.get(w, []))} change runs")
        for m in spec["per_layer"]:
            pv, cv = values(p1.get(w, []), m["name"]), values(c1.get(w, []), m["name"])
            if not pv or not cv:
                continue
            pm, cm = statistics.median(pv), statistics.median(cv)
            if pm == 0 and cm == 0:
                continue
            rel = f" ({(cm - pm) / pm:+.1%})" if pm else ""
            print(f"  {m['name']:28s} {pm:.5g} | {cm:.5g} | {cm - pm:+.5g} {m['unit']}{rel}")

    for label, runs in (("parent", parent), ("change", change)):
        t0, t1 = by_workload(runs, 0), by_workload(runs, 1)
        for w in sorted(set(t0) & set(t1)):
            parts = []
            for m in spec["end_to_end"]:
                a, b = values(t0[w], m["name"]), values(t1[w], m["name"])
                if a and b:
                    d = statistics.median(b) - statistics.median(a)
                    parts.append(f"{m['name']} {d:+.4g} {m['unit']}")
            print(f"\ntracing overhead ({label}, {w}, traced - untraced medians): "
                  + ", ".join(parts))


if __name__ == "__main__":
    main()

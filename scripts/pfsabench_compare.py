#!/usr/bin/env python3
"""Compare two sets of pfsabench result files (a parent commit and a change).

Usage, from the root of the repository:

    python3 scripts/pfsabench_compare.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

Each directory holds result JSONs copied from `.bench_build/pfsabench/results/`
(`<workload>-seed<seed>-trace<t>.json`) of runs of one checkout. For every
workload it prints, per bounded end-to-end metric of BENCHMARK.json:

- median and quartiles of the untraced runs on each side;
- pair wins: for every seed run on both sides, whether the change was better;
- the median change relative to the parent, and whether it stays within the
  metric's bound in the worse direction;
- whether the median difference exceeds the parent's interquartile range
  (the size a claimed gain must beat).

Runs whose host steal share was above 2% are listed: their timings are not
results. When traced runs (`--trace 1`) are present on both sides, the
per-layer metrics whose medians differ are printed as well. Exit status is 1
when any bounded metric is worse than its bound, otherwise 0.
"""

import argparse
import glob
import json
import os
import statistics
import sys

STEAL_LIMIT_PCT = 2.0


def load(directory):
    """(workload, trace) -> {seed: result} for every result file in directory."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        if "workload" not in r or "end_to_end" not in r:
            continue
        runs.setdefault((r["workload"], int(r["trace"])), {})[r["seed"]] = r
    return runs


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def metric(result, section, name):
    for m in result.get(section, []):
        if m["name"] == name:
            return m["value"]
    return None


def steal(result):
    return result.get("host", {}).get("steal_pct") or 0.0


def fmt(x):
    return "nan" if x is None else f"{x:.4g}"


def compare_end_to_end(workload, parent, change, bounded):
    """Prints the bounded-metric table; returns the metrics out of bound."""
    seeds = sorted(set(parent) & set(change))
    print(f"== {workload}: {len(parent)} parent runs, {len(change)} change runs, "
          f"{len(seeds)} seed-matched pairs; median steal "
          f"{statistics.median(map(steal, parent.values())):.2f}% / "
          f"{statistics.median(map(steal, change.values())):.2f}%")
    for side, runs in (("parent", parent), ("change", change)):
        noisy = [f"seed {s} ({steal(r):.2f}%)" for s, r in sorted(runs.items())
                 if steal(r) > STEAL_LIMIT_PCT]
        if noisy:
            print(f"  steal > {STEAL_LIMIT_PCT}% on {side}: " + ", ".join(noisy))
    failed = []
    header = f"  {'metric':<16}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'wins':>8}{'Δmed':>9}{'bound':>7}  >IQR"
    print(header)
    for m in bounded:
        name, higher = m["name"], m["better"] == "higher"
        pv = [v for v in (metric(r, "end_to_end", name) for r in parent.values()) if v is not None]
        cv = [v for v in (metric(r, "end_to_end", name) for r in change.values()) if v is not None]
        if not pv or not cv:
            print(f"  {name:<16} missing on one side")
            continue
        p1, pm, p3 = quartiles(pv)
        c1, cm, c3 = quartiles(cv)
        wins = 0
        for s in seeds:
            a = metric(parent[s], "end_to_end", name)
            b = metric(change[s], "end_to_end", name)
            if a is not None and b is not None and ((b > a) if higher else (b < a)):
                wins += 1
        rel = (cm - pm) / pm if pm else 0.0
        worse = -rel if higher else rel
        within = worse <= m["bound"]
        if not within:
            failed.append(name)
        beats_iqr = abs(cm - pm) > (p3 - p1)
        print(f"  {name:<16}{fmt(p1):>10}{fmt(pm):>10}{fmt(p3):>10}"
              f"{fmt(c1):>10}{fmt(cm):>10}{fmt(c3):>10}"
              f"{f'{wins}/{len(seeds)}':>8}{rel:>+9.1%}{('ok' if within else 'WORSE'):>7}"
              f"  {'yes' if beats_iqr else 'no'}")
    for name in ("wrong_outputs", "failed_frac", "detect_recall", "false_alarm_frac"):
        pv = sorted({metric(r, "end_to_end", name) for r in parent.values()} - {None})
        cv = sorted({metric(r, "end_to_end", name) for r in change.values()} - {None})
        if pv or cv:
            print(f"  {name:<16} parent {pv}  change {cv}")
    return failed


def compare_layers(workload, parent, change):
    names = [m["name"] for m in next(iter(parent.values())).get("per_layer", [])]
    rows = []
    for name in names:
        pv = [v for v in (metric(r, "per_layer", name) for r in parent.values()) if v is not None]
        cv = [v for v in (metric(r, "per_layer", name) for r in change.values()) if v is not None]
        if not pv or not cv:
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        if pm != cm:
            rows.append((name, pm, cm))
    print(f"  per-layer medians that moved ({len(parent)} parent / {len(change)} change traced runs):")
    for name, pm, cm in rows:
        rel = f"{(cm - pm) / pm:+.1%}" if pm else ""
        print(f"    {name:<42}{fmt(pm):>12}{fmt(cm):>12}  {rel}")


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(here), "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bounded = json.load(fh)["end_to_end"]
    parent, change = load(args.parent_dir), load(args.change_dir)
    workloads = sorted({w for w, _ in parent} | {w for w, _ in change})
    failed = []
    for w in workloads:
        p0, c0 = parent.get((w, 0), {}), change.get((w, 0), {})
        if p0 and c0:
            failed += [f"{w}.{m}" for m in compare_end_to_end(w, p0, c0, bounded)]
        else:
            print(f"== {w}: untraced runs missing on one side")
        p1, c1 = parent.get((w, 1), {}), change.get((w, 1), {})
        if p1 and c1:
            compare_layers(w, p1, c1)
    if failed:
        print("worse than bound: " + ", ".join(failed))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

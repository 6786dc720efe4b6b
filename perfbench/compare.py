"""Compare two sets of benchmark runs (a parent and a change).

    python3 perfbench/compare.py PARENT_RECORDS CHANGE_RECORDS [--spec BENCHMARK.json]

Each argument is a directory of run records (``.perfbench/records/`` of a
checkout) or a glob of record files. Only untraced records count. For every
workload and end-to-end metric it prints each side's median and quartiles,
the paired wins of the change (runs paired by seed; ties count for
neither), and a verdict:

- ``improved``: the change wins at least 9/10 of the pairs and the medians
  differ by more than the parent's own quartile spread;
- ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unchanged``: neither, and the parent's quartile spread is within the
  bound;
- ``unresolved``: neither, but the spread is wider than the bound, unless
  every run of the change reads better than every run of the parent.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict


def load(where: str) -> dict:
    """``{workload: {seed: {metric: value}}}`` from untraced run records."""
    paths = glob.glob(os.path.join(where, "*.json")) if os.path.isdir(where) else glob.glob(where)
    runs: dict = defaultdict(dict)
    for p in sorted(paths):
        if p.endswith(".spans.json"):
            continue
        with open(p) as f:
            rec = json.load(f)
        if rec.get("trace") != 0:
            continue
        runs[rec["workload"]][rec["seed"]] = {k: v["value"] for k, v in rec["end_to_end"].items()}
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        x = xs[0] if xs else float("nan")
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], pairs, bound: float, lower_better: bool) -> tuple[str, str]:
    sign = 1 if lower_better else -1
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum(sign * (a - b) > 0 for a, b in pairs)
    losses = sum(sign * (a - b) < 0 for a, b in pairs)
    wins_txt = f"{wins}/{len(pairs)} won, {losses} lost"
    gain = sign * (pm - cm)  # > 0 when the change is better
    if pairs and wins >= 0.9 * len(pairs) and gain > (p3 - p1):
        return "improved", wins_txt
    if -gain > bound * abs(pm):
        return "regressed", wins_txt
    if (p3 - p1) <= bound * abs(pm):
        return "unchanged", wins_txt
    all_better = parent and change and (
        max(change) < min(parent) if lower_better else min(change) > max(parent)
    )
    return ("unchanged" if all_better else "unresolved"), wins_txt


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--spec", default="BENCHMARK.json")
    args = ap.parse_args(argv)
    with open(args.spec) as f:
        spec = json.load(f)
    parent, change = load(args.parent), load(args.change)
    print(f"{'workload':16} {'metric':12} {'parent q1/median/q3':>30} {'change q1/median/q3':>30}  pairs  verdict")
    for wl in [w["name"] for w in spec["workloads"]]:
        a, b = parent.get(wl, {}), change.get(wl, {})
        if not a or not b:
            print(f"{wl:16} (no runs on {'parent' if not a else 'change'} side)")
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            xs = [r[name] for r in a.values()]
            ys = [r[name] for r in b.values()]
            pairs = [(a[s][name], b[s][name]) for s in sorted(set(a) & set(b))]
            v, wins = verdict(xs, ys, pairs, m["bound"], m["better"] == "lower")
            fa = "/".join(f"{x:.4g}" for x in quartiles(xs))
            fb = "/".join(f"{x:.4g}" for x in quartiles(ys))
            print(f"{wl:16} {name:12} {fa:>30} {fb:>30}  {wins:18} {v} (bound {m['bound']:.0%}, n={len(xs)}/{len(ys)})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

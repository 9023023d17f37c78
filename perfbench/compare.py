#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--bench BENCHMARK.json]

Each directory holds one file per run, holding run.py's standard output
(only its last line is read), named

    <workload>.<seed>.json         an end-to-end run (--trace 0)
    <workload>.<seed>.trace.json   a traced run (--trace 1)

Runs of the two sides pair up by workload and seed. For every workload and
end-to-end metric it prints each side's median and quartiles, the share of
pairs the change wins, and a verdict:

  improved      the change wins at least 9 in 10 pairs and the medians
                differ by more than the parent's own quartile spread
  regressed     the change's median is worse than the parent's by more
                than the metric's bound in BENCHMARK.json
  unresolved    the parent's spread is wider than the bound and not every
                change run reads better than every parent run
  within bound  otherwise

It then prints the tracing overhead of each side (traced over untraced
wall time) and each per-layer metric's median on both sides from the
traced runs, with the change as a share of the parent.
"""
import argparse
import glob
import json
import os
import statistics
from collections import defaultdict


def load(d):
    """{(workload, traced): {seed: metrics}} from the run files in d."""
    out = defaultdict(dict)
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        parts = os.path.basename(path).split(".")
        if len(parts) not in (3, 4) or not parts[1].lstrip("-").isdigit():
            continue
        with open(path) as f:
            lines = [line for line in f.read().splitlines() if line.strip()]
        if not lines:
            continue
        result = json.loads(lines[-1])
        out[(parts[0], len(parts) == 4)][int(parts[1])] = {
            k: v["value"] for k, v in result["metrics"].items()}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, lower_better, bound):
    """The verdict for one metric, and the change's pair win share."""
    better = (lambda c, p: c < p) if lower_better else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in pairs)
    share = wins / len(pairs) if pairs else float("nan")
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    worse = (cm - pm) if lower_better else (pm - cm)
    all_better = all(better(c, p) for c in change for p in parent)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1):
        return "improved", share
    if pm and (p3 - p1) / abs(pm) > bound and not all_better:
        return "unresolved", share
    if pm and worse > bound * abs(pm):
        return "regressed", share
    return "within bound", share


def main(argv=None):
    here = os.path.dirname(os.path.abspath(__file__))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(here), "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.bench) as f:
        bench = json.load(f)
    parent, change = load(a.parent), load(a.change)

    print(f"{'workload':18} {'metric':14} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>5}  verdict")
    for w in (x["name"] for x in bench["workloads"]):
        p, c = parent.get((w, False), {}), change.get((w, False), {})
        seeds = sorted(set(p) & set(c))
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [r[name] for r in p.values() if name in r]
            cv = [r[name] for r in c.values() if name in r]
            if not pv or not cv:
                print(f"{w:18} {name:14} {'no runs':>30}")
                continue
            pairs = [(p[s][name], c[s][name]) for s in seeds]
            v, share = verdict(pv, cv, pairs, m["better"] == "lower", m["bound"])
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
            print(f"{w:18} {name:14} {fmt(pv):>30} {fmt(cv):>30} "
                  f"{share:5.2f}  {v}  (n={len(pv)}/{len(cv)}, pairs={len(pairs)})")

    print("\ntracing overhead: median traced trace.wall_s / median untraced wall_s")
    for w in (x["name"] for x in bench["workloads"]):
        for side, runs in (("parent", parent), ("change", change)):
            plain = [r["wall_s"] for r in runs.get((w, False), {}).values()]
            traced = [r["trace.wall_s"] for r in runs.get((w, True), {}).values()]
            if plain and traced:
                print(f"{w:18} {side:6} {statistics.median(traced) / statistics.median(plain):.3f}")

    print(f"\n{'workload':18} {'per-layer metric':30} {'parent':>14} {'change':>14} {'change/parent':>14}")
    for w in (x["name"] for x in bench["workloads"]):
        p, c = parent.get((w, True), {}), change.get((w, True), {})
        if not p or not c:
            continue
        for m in bench["per_layer"]:
            name = m["name"]
            pm = statistics.median(r[name] for r in p.values())
            cm = statistics.median(r[name] for r in c.values())
            if pm == 0 and cm == 0:
                continue
            ratio = f"{cm / pm:.3f}" if pm else "-"
            print(f"{w:18} {name:30} {pm:14.6g} {cm:14.6g} {ratio:>14}")


if __name__ == "__main__":
    main()

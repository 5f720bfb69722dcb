#!/usr/bin/env python3
"""Compares two sets of benchmark runs: a parent commit and a change.

Usage: python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run artifacts as `perfbench/run.py` writes them to
`.bench_runs/` (copy that directory aside after running each side). Only
untraced runs are compared: the end-to-end metrics of BENCHMARK.json with
their bounds, then each workload's ungated wall-time figures (freshness,
drain rate, query latency and pass time) against a bound of 0.25.

For every workload and metric it prints each side's median and quartiles, the
share of seed-matched pairs the change won (ties count for neither side) and a
verdict:
  unresolved  the parent's own spread (interquartile range over median) is
              wider than the metric's bound, and not every change run beats
              every parent run;
  worse       the change's median is worse than the parent's by more than
              the bound;
  improved    the change won at least 9 in 10 pairs and the medians differ
              by more than the parent's interquartile range;
  unchanged   otherwise.
"""
import json
import pathlib
import statistics
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


UNGATED_BOUND = 0.25


def load(d: str) -> dict:
    """{workload: {seed: {metric: value}}} from a directory of artifacts."""
    runs = {}
    for f in sorted(pathlib.Path(d).glob("*.json")):
        a = json.loads(f.read_text())
        if a.get("trace") != 0:
            continue
        vals = dict(a["metrics"])
        vals.update({k: v[0] for k, v in a["reported"].items()})
        runs.setdefault(a["workload"], {})[a["seed"]] = vals
    return runs


def quartiles(xs: list) -> tuple:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par: list, chg: list, pairs: list, better: str, bound: float) -> tuple:
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(par)
    _, cm, _ = quartiles(chg)
    won = sum(1 for p, c in pairs if sign * (c - p) > 0)
    share = won / len(pairs) if pairs else 0.0
    all_better = all(sign * (c - p) > 0 for c in chg for p in par)
    if pm and (p3 - p1) / abs(pm) > bound and not all_better:
        return "unresolved", share
    if pm and sign * (cm - pm) / abs(pm) < -bound:
        return "worse", share
    if share >= 0.9 and sign * (cm - pm) > (p3 - p1):
        return "improved", share
    return "unchanged", share


def main(parent_dir: str, change_dir: str) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    parent, change = load(parent_dir), load(change_dir)
    worst = 0
    print(f"{'workload':16s} {'metric':22s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} "
          f"{'won':>5s}  verdict")
    gated = {m["name"] for m in spec["end_to_end"]}
    for w in sorted(set(parent) | set(change)):
        p_runs, c_runs = parent.get(w, {}), change.get(w, {})
        seen = set().union(*p_runs.values(), *c_runs.values())
        ungated = [{"name": n, "better": "higher" if n.endswith("_per_s") else "lower",
                    "bound": UNGATED_BOUND, "ungated": True}
                   for n in sorted(seen - gated)]
        for m in spec["end_to_end"] + ungated:
            name = m["name"]
            par = [r[name] for r in p_runs.values() if name in r]
            chg = [r[name] for r in c_runs.values() if name in r]
            if not par or not chg:
                print(f"{w:16s} {name:22s} missing on one side")
                worst = 1
                continue
            pairs = [(p_runs[s][name], c_runs[s][name]) for s in sorted(set(p_runs) & set(c_runs))]
            v, share = verdict(par, chg, pairs, m["better"], m["bound"])
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
            print(f"{w:16s} {name:22s} {fmt(par):>32s} {fmt(chg):>32s} {share:5.2f}  {v}"
                  f"  (n={len(par)}/{len(chg)}){'  ungated' if m.get('ungated') else ''}")
            if v == "worse" and not m.get("ungated"):
                worst = 1
    return worst


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

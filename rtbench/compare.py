#!/usr/bin/env python3
"""Compare two sets of benchmark runs: the parent commit and a change.

    python3 rtbench/compare.py PARENT_DIR CHANGE_DIR [--traced TRACED_DIR]

Each directory holds one file per run, ``<workload>-<seed>.json``, whose
last line is the result line ``run.py`` printed. Runs of the two sets with
the same workload and seed form a pair. For every workload and end-to-end
metric of ``BENCHMARK.json`` the report gives each side's median and
quartiles and one verdict:

- ``gain``: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's quartile spread;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: either side's quartile spread, as a share of its median,
  exceeds the bound, unless every change run beats every parent run;
- ``same`` otherwise.

With ``--traced``, a set of ``--trace 1`` runs, it also reports the tracing
overhead: each ``trace.e2e.*`` median against the change set's untraced
median of the same metric.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(run_dir: str) -> dict:
    """{workload: {seed: {metric: value}}} from ``<workload>-<seed>.json``."""
    out: dict = {}
    for path in sorted(glob.glob(os.path.join(run_dir, "*.json"))):
        workload, _, seed = os.path.basename(path)[:-5].rpartition("-")
        with open(path) as f:
            lines = [x for x in f.read().splitlines() if x.strip()]
        if not lines:
            continue
        r = json.loads(lines[-1])
        out.setdefault(workload, {})[seed] = {k: v["value"] for k, v in r["metrics"].items()}
    return out


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(parent: dict, change: dict, bound: float, higher: bool) -> dict:
    """``parent``/``change``: {seed: value} of one workload and metric."""
    p, c = list(parent.values()), list(change.values())
    pq1, pm, pq3 = quartiles(p)
    cq1, cm, cq3 = quartiles(c)
    sign = 1 if higher else -1
    pairs = [(parent[s], change[s]) for s in parent if s in change]
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    worse = sign * (pm - cm) / abs(pm) if pm else 0.0  # share worse, > 0 is worse
    spread = max((pq3 - pq1) / abs(pm) if pm else 0.0, (cq3 - cq1) / abs(cm) if cm else 0.0)
    all_better = all(sign * (b - a) > 0 for a in p for b in c)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (pq3 - pq1):
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regression"
    else:
        v = "same"
    return {"parent": (pq1, pm, pq3), "change": (cq1, cm, cq3), "worse": worse,
            "spread": spread, "wins": wins, "pairs": len(pairs), "verdict": v}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--traced")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.bench) as f:
        bench = json.load(f)
    parent, change = load(args.parent), load(args.change)
    bad = 0
    for wl in sorted(set(parent) | set(change)):
        print(f"== {wl}: {len(parent.get(wl, {}))} parent runs, {len(change.get(wl, {}))} change runs")
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = {s: r[name] for s, r in parent.get(wl, {}).items() if name in r}
            cv = {s: r[name] for s, r in change.get(wl, {}).items() if name in r}
            if not pv or not cv:
                print(f"  {name:16s} missing")
                bad += 1
                continue
            r = verdict(pv, cv, m["bound"], m["better"] == "higher")
            bad += r["verdict"] in ("regression", "unresolved")
            print(f"  {name:16s} parent {r['parent'][1]:.4g} [{r['parent'][0]:.4g}, {r['parent'][2]:.4g}]"
                  f"  change {r['change'][1]:.4g} [{r['change'][0]:.4g}, {r['change'][2]:.4g}]"
                  f"  worse {r['worse']:+.3f} (bound {m['bound']})  spread {r['spread']:.3f}"
                  f"  wins {r['wins']}/{r['pairs']}  {r['verdict']}")
    if args.traced:
        traced = load(args.traced)
        print("== tracing overhead (traced median vs untraced change median)")
        for wl, runs in sorted(traced.items()):
            for key in sorted(next(iter(runs.values()))):
                if not key.startswith("trace.e2e."):
                    continue
                base = [r[key[len("trace.e2e."):]] for r in change.get(wl, {}).values()]
                t = statistics.median(r[key] for r in runs.values())
                if base:
                    b = statistics.median(base)
                    print(f"  {wl} {key[10:]}: traced {t:.4g} untraced {b:.4g} ({(t - b) / b:+.1%})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

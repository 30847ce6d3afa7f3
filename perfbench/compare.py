#!/usr/bin/env python3
"""A/B compare two result sets of the benchmark: parent and change.

    python3 perfbench/compare.py PARENT CHANGE [--spec BENCHMARK.json]

PARENT and CHANGE are each a run-record file (`.bench_work/runs.jsonl`
lines, or the JSON lines `run.py --workload all` prints) or a directory
of such files. Runs are paired by seed where both sides have the seed,
else in order. For each workload x end-to-end metric it prints both
medians and quartiles, the share of pairs the change won, and a verdict
against the metric's bound in BENCHMARK.json:

  improved    the change wins >= 90% of pairs and the medians differ by
              more than the parent's own quartile spread
  no worse    the change's median is within the bound and both spreads
              are within the bound
  worse       the change's median is worse than the bound allows
  unresolved  a spread exceeds the bound (unless every change run beats
              every parent run)

Exit code 1 when any pairing is worse.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path):
    """{workload: [(seed, {metric: value})]} of the untraced runs in `path`."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if f.endswith((".json", ".jsonl")))
    runs = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                r = json.loads(line)
                if r.get("trace") or "workload" not in r or "metrics" not in r:
                    continue
                vals = {k: v["value"] if isinstance(v, dict) else v
                        for k, v in r["metrics"].items()}
                runs.setdefault(r["workload"], []).append((r.get("seed"), vals))
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def pairs(par, chg):
    by_seed = {s: v for s, v in chg if s is not None}
    if par and all(s in by_seed for s, _ in par):
        return [(p, by_seed[s]) for s, p in par]
    return [(p, c) for (_, p), (_, c) in zip(par, chg)]


def verdict(par, chg, pr, better, bound):
    """Verdict for one metric: `par`/`chg` values, `pr` their pairs."""
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(par)
    c1, cm, c3 = quartiles(chg)
    wins = sum(1 for a, b in pr if sign * (b - a) > 0)
    share = wins / len(pr) if pr else 0.0
    worse_by = -sign * (cm - pm) / abs(pm) if pm else 0.0
    spread_p = (p3 - p1) / abs(pm) if pm else 0.0
    spread_c = (c3 - c1) / abs(cm) if cm else 0.0
    all_better = all(sign * (b - a) > 0 for a in par for b in chg)
    if share >= 0.9 and abs(cm - pm) > (p3 - p1):
        v = "improved"
    elif spread_p > bound or spread_c > bound:
        v = "improved" if all_better else "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return {"parent": (p1, pm, p3), "change": (c1, cm, c3), "won": share,
            "pairs": len(pr), "worse_by": worse_by, "verdict": v}


def compare(parent, change, spec):
    rows = []
    for w in sorted(set(parent) & set(change)):
        pr_all = pairs(parent[w], change[w])
        for m in spec["end_to_end"]:
            name = m["name"]
            par = [v[name] for _, v in parent[w] if name in v]
            chg = [v[name] for _, v in change[w] if name in v]
            if not par or not chg:
                continue
            pr = [(a[name], b[name]) for a, b in pr_all if name in a and name in b]
            rows.append((w, name, m["unit"], m["bound"],
                         verdict(par, chg, pr, m["better"], m["bound"])))
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--spec", default=os.path.join(HERE, "..", "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.spec) as f:
        spec = json.load(f)
    rows = compare(load_runs(args.parent), load_runs(args.change), spec)
    print(f"{'workload':18} {'metric':12} {'unit':7} {'parent q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'won':>5} {'worse':>7} {'bound':>5}  verdict")
    for w, name, unit, bound, r in rows:
        fmt = "{:.4g}/{:.4g}/{:.4g}"
        print(f"{w:18} {name:12} {unit:7} {fmt.format(*r['parent']):>28} "
              f"{fmt.format(*r['change']):>28} {r['won']:5.0%} {r['worse_by']:+7.1%} "
              f"{bound:5.2f}  {r['verdict']} ({r['pairs']} pairs)")
    return 1 if any(r["verdict"] == "worse" for *_, r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())

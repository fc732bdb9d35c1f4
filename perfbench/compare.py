#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent and a change.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds the stdout of several `run.py --trace 0` runs appended
together (a detail line, then the result line, per run). Runs pair up
in order per workload: the i-th parent run against the i-th change run,
so alternate which side runs first when making them. For every workload
and end-to-end metric of BENCHMARK.json this prints each side's
quartiles, the share of pairs the change wins and a verdict:

- improved: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ, in its favour, by more than the
  parent's interquartile range;
- worse: the change's median is worse than the parent's by more than
  the metric's bound (a share of the parent's median);
- unresolved: the parent's own spread is wider than the bound, unless
  every change run reads better than every parent run;
- unchanged: otherwise.
"""
import json
import os
import sys

from metrics import quartiles

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path):
    """{workload: [metrics dict per run]} from concatenated run output."""
    runs, workload = {}, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "detail" in obj:
                workload = obj["detail"]["workload"]
            elif "metrics" in obj and workload is not None:
                runs.setdefault(workload, []).append(
                    {k: v["value"] for k, v in obj["metrics"].items()})
                workload = None
    return runs


def verdict(parent, change, better, bound):
    """(verdict, share of pairs won by the change, details) for one
    metric given each side's values in run order."""
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    share = wins / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    iqr = pq3 - pq1
    gain = sign * (cmed - pmed)
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if pairs and share >= 0.9 and gain > iqr:
        v = "improved"
    elif -gain > bound * abs(pmed):
        v = "worse"
    elif iqr > bound * abs(pmed) and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return v, share, {"parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
                      "pairs": len(pairs)}


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load_runs(argv[1]), load_runs(argv[2])
    print(f"{'workload':8} {'metric':12} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'wins':>9} verdict")
    for w in sorted(set(parent) & set(change)):
        for m in spec["end_to_end"]:
            name = m["name"]
            p = [r[name] for r in parent[w] if name in r]
            c = [r[name] for r in change[w] if name in r]
            if not p or not c:
                continue
            v, share, d = verdict(p, c, m["better"], m["bound"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:8} {name:12} {fmt(d['parent']):>32} "
                  f"{fmt(d['change']):>32} "
                  f"{round(share * d['pairs'])}/{d['pairs']:<7} {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

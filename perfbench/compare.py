#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit (BASE) and a
change (NEW).

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the result files run.py writes to
perfbench/results/ (<workload>-seed<N>-trace<T>.json); copy them aside
after running each commit. Runs pair up by (workload, seed, trace).
One row per (metric, workload): each side's median and quartiles, the
paired wins of NEW, and a verdict. Metrics are the result line's (the
bounded end-to-end ones, or the per-layer ones of traced runs) and the
printed table's named metrics, which have no bound.

  improved    NEW better in at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than BASE's
              interquartile distance
  worse       NEW's median worse than BASE's by more than the metric's
              bound (metrics without a bound: NEW worse in 9/10 of the
              pairs by more than BASE's interquartile distance)
  unresolved  not improved, and either side's spread (interquartile
              distance / median) exceeds the bound, unless every NEW run
              beats every BASE run
  unchanged   otherwise
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """(workload, seed, trace) -> {metric: value}: the result line's
    metrics plus, from untraced runs, the table's named metrics
    (curation_docs_per_s, poll_tail_s, ...), which have no bound."""
    runs = {}
    for f in glob.glob(os.path.join(d, "*.json")):
        r = json.load(open(f))
        ms = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        if not r["trace"]:
            ms.update({k: v for k, v in r["report"]["named"].items()
                       if isinstance(v, (int, float)) and not k.endswith("_pct") and k not in ms})
        runs[(r["workload"], r["seed"], r["trace"])] = ms
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, pairs, lower_better, bound):
    better = (lambda x, y: x < y) if lower_better else (lambda x, y: x > y)
    q1a, ma, q3a = quartiles(a)
    q1b, mb, q3b = quartiles(b)
    wins = sum(1 for x, y in pairs if better(y, x))
    losses = sum(1 for x, y in pairs if better(x, y))
    gap = abs(mb - ma)
    if pairs and wins >= 0.9 * len(pairs) and better(mb, ma) and gap > q3a - q1a:
        return "improved", wins
    if bound is None:
        if pairs and losses >= 0.9 * len(pairs) and gap > q3a - q1a:
            return "worse", wins
        return "unchanged", wins
    if better(ma, mb) and gap > bound * abs(ma):
        return "worse", wins
    spread = max((q3a - q1a) / abs(ma) if ma else 0.0, (q3b - q1b) / abs(mb) if mb else 0.0)
    if spread > bound and not all(better(y, x) for x in a for y in b):
        return "unresolved", wins
    return "unchanged", wins


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: (m["better"] == "lower", m.get("bound"))
              for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    rows = []
    keys = sorted({(w, t) for w, _, t in base} | {(w, t) for w, _, t in new})
    for workload, trace in keys:
        names = sorted({m for (w, _, t), ms in list(base.items()) + list(new.items())
                        if (w, t) == (workload, trace) for m in ms})
        for name in names:
            lower, bound = bounds.get(name, (not name.endswith("_per_s"), None))
            sa = {s: ms[name] for (w, s, t), ms in base.items()
                  if (w, t) == (workload, trace) and ms.get(name) is not None}
            sb = {s: ms[name] for (w, s, t), ms in new.items()
                  if (w, t) == (workload, trace) and ms.get(name) is not None}
            if not sa or not sb:
                continue
            pairs = [(sa[s], sb[s]) for s in sorted(sa) if s in sb]
            v, wins = verdict(list(sa.values()), list(sb.values()), pairs, lower, bound)
            qa, qb = quartiles(list(sa.values())), quartiles(list(sb.values()))
            rows.append((name, workload, len(sa), qa, len(sb), qb, f"{wins}/{len(pairs)}", v))
    print(f"{'metric':38s} {'workload':20s} {'n':>3s} {'base median [q1, q3]':>32s} "
          f"{'n':>3s} {'new median [q1, q3]':>32s} {'wins':>6s}  verdict")
    for name, w, na, (a1, am, a3), nb, (b1, bm, b3), wins, v in rows:
        print(f"{name:38s} {w:20s} {na:3d} {am:12.5g} [{a1:.5g}, {a3:.5g}]".ljust(100) +
              f" {nb:3d} {bm:12.5g} [{b1:.5g}, {b3:.5g}]".ljust(50) + f" {wins:>6s}  {v}")


if __name__ == "__main__":
    main()

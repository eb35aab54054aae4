#!/usr/bin/env python3
"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds `result-*.json` records as `perfbench/run.py`
writes them to `.bench_out/`. For every workload and end-to-end metric
in both sets it prints each side's median and quartile spread and
whether the new median is worse than the base by more than the
metric's bound in BENCHMARK.json. Results from different host shapes
(nproc, cores used, heap, JDK or Spark version) are refused: exit 2.
"""
import glob
import json
import os
import statistics
import sys

SHAPE = ("nproc", "cores_used", "xmx_mb", "jdk", "spark")


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "result-*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r["trace"] == 0:
            recs.append(r)
    return recs


def shapes(recs):
    return {tuple((k, r["host"][k]) for k in SHAPE) for r in recs}


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    if not base or not new:
        sys.exit("no untraced result records in one of the directories")
    s = shapes(base) | shapes(new)
    if len(s) != 1:
        print("refusing to compare results from different host shapes:",
              file=sys.stderr)
        for x in sorted(s):
            print("  " + ", ".join(f"{k}={v}" for k, v in x), file=sys.stderr)
        sys.exit(2)
    worse = 0
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        print(f"{w}  (base n={sum(r['workload'] == w for r in base)}, "
              f"new n={sum(r['workload'] == w for r in new)})")
        for m in spec["end_to_end"]:
            b = [r["metrics"][m["name"]] for r in base if r["workload"] == w]
            n = [r["metrics"][m["name"]] for r in new if r["workload"] == w]
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb if mb else 0.0
            loss = change if m["better"] == "lower" else -change
            verdict = "WORSE" if loss > m["bound"] else "ok"
            worse += verdict == "WORSE"
            print(f"  {m['name']:18s} {mb:12.5g} -> {mn:12.5g} {m['unit']:6s} "
                  f"{change:+7.1%}  spread {spread(b):.3f}/{spread(n):.3f}  "
                  f"bound {m['bound']:.2f}  {verdict}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()

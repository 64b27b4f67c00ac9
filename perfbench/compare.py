"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds run records as ``perfbench/run.py`` appends them to
``perfbench/out/runs.jsonl``. For every workload and metric it prints
the median and quartiles of each side and the change of the medians,
and marks an end-to-end metric that worsened by more than its
BENCHMARK.json bound. Runs made at different core counts measure
different machines, so it refuses to compare them.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load(p) for p in argv)
    cores = {r["nproc"] for r in base + new}
    if len(cores) != 1:
        print(f"refusing to compare runs made at different core counts: {sorted(cores)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    worse = 0
    for w in sorted({r["workload"] for r in base + new}):
        names = sorted({k for r in base + new if r["workload"] == w for k in r["metrics"]})
        for name in names:
            sides = [[r["metrics"][name]["value"] for r in runs
                      if r["workload"] == w and name in r["metrics"]] for runs in (base, new)]
            if not all(sides):
                continue
            (b1, b2, b3), (n1, n2, n3) = (quartiles(s) for s in sides)
            change = (n2 - b2) / b2 if b2 else 0.0
            flag = ""
            m = e2e.get(name)
            if m is not None:
                loss = -change if m["better"] == "higher" else change
                if loss > m["bound"]:
                    flag, worse = "  WORSE than bound", worse + 1
            print(f"{w:8} {name:28} base {b2:.6g} [{b1:.6g}, {b3:.6g}] n={len(sides[0])}"
                  f"  new {n2:.6g} [{n1:.6g}, {n3:.6g}] n={len(sides[1])}"
                  f"  {change:+.1%}{flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

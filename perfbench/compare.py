"""Compare two sets of benchmark runs recorded by ``run.py``.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl [--trace 1]

Each file is a ``runs.jsonl`` as ``run.py`` appends it under ``.perfbench/``
(copy it aside between the two sets).  For every workload and metric both
files hold, prints each side's median and quartiles over its runs and the
ratio of the medians, NEW over BASE.  Refuses, with exit code 2, to compare
runs made at different CPU counts.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def load(path: str, trace: int) -> list[dict]:
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    return [r for r in runs if r["trace"] == trace]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    base, new = load(args.base, args.trace), load(args.new, args.trace)
    counts = sorted({r["cpus"] for r in base + new})
    if len(counts) > 1:
        print(f"refusing to compare runs made at different CPU counts: "
              f"{counts}", file=sys.stderr)
        return 2
    print(f"cpus {counts[0] if counts else '?'}")
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        a = [r["metrics"] for r in base if r["workload"] == wl]
        b = [r["metrics"] for r in new if r["workload"] == wl]
        print(f"{wl}: {len(a)} base runs, {len(b)} new runs")
        for name in a[0]:
            if not all(name in m for m in a + b):
                continue
            qa = quartiles([m[name] for m in a])
            qb = quartiles([m[name] for m in b])
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            print(f"  {name:28s} base {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]"
                  f"  new {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}]"
                  f"  new/base {ratio:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Tracing overhead: traced minus untraced end-to-end metrics.

    python3 perfbench/overhead.py --workload fulltext_live

Reads the result files ``run.py`` leaves in ``.perfbench/results/`` and,
for every seed that has both a ``--trace 0`` and a ``--trace 1`` run,
prints each end-to-end metric of both runs and their relative
difference, then the median difference over the seeds. Run it from the
repository root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--results", default=os.path.join(".perfbench", "results"))
    args = p.parse_args()
    diffs: dict[str, list[float]] = {}
    for f0 in sorted(glob.glob(os.path.join(args.results, f"{args.workload}-seed*-trace0.json"))):
        f1 = f0.replace("-trace0.json", "-trace1.json")
        if not os.path.exists(f1):
            continue
        with open(f0) as a, open(f1) as b:
            e0, e1 = json.load(a)["e2e"], json.load(b)["e2e"]
        print(os.path.basename(f0).replace("-trace0.json", ""))
        for k, v0 in e0.items():
            if k not in e1:  # a result file of another metric set
                continue
            rel = (e1[k] - v0) / v0 if v0 else float("nan")
            diffs.setdefault(k, []).append(rel)
            print(f"  {k:16s} untraced {v0:12.2f}  traced {e1[k]:12.2f}  {100 * rel:+7.1f}%")
    if not diffs:
        print(f"no seed of {args.workload} has both a traced and an untraced result")
        return
    print("median over seeds")
    for k, rs in diffs.items():
        print(f"  {k:16s} {100 * statistics.median(rs):+7.1f}%")


if __name__ == "__main__":
    main()

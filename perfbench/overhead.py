"""Tracing overhead: traced minus untraced end-to-end metrics, per workload.

Every run writes its report to ``.perfbench/results/``; a traced run also
measures the end-to-end metrics, with tracing on.  After untraced and
traced runs of a workload, this prints each metric's median both ways and
their relative difference::

    python3 perfbench/overhead.py
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

RESULTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench", "results")


def main() -> int:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in glob.glob(os.path.join(RESULTS, "*-trace[01].json")):
        with open(path) as f:
            rep = json.load(f)
        runs.setdefault((rep["info"]["workload"], rep["info"]["trace"]), []).append(rep["e2e"])
    workloads = sorted({w for w, _ in runs})
    if not workloads:
        print(f"no run reports under {RESULTS}", file=sys.stderr)
        return 1
    for w in workloads:
        off, on = runs.get((w, 0), []), runs.get((w, 1), [])
        if not off or not on:
            print(f"{w}: needs both untraced and traced runs")
            continue
        print(f"{w} ({len(off)} untraced, {len(on)} traced runs)")
        for metric in off[0]:
            a = statistics.median(r[metric] for r in off)
            b = statistics.median(r[metric] for r in on)
            print(f"  {metric:14s} untraced {a:12.3f}  traced {b:12.3f}  overhead {(b - a) / a:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Medians and spreads of recorded runs, per workload and metric.

    python3 perfbench/summary.py                 # every run under .perfbench/results
    python3 perfbench/summary.py FILE.json ...   # chosen run records

Spread is the distance between the first and third quartile as a share
of the median, the figure each end-to-end bound in BENCHMARK.json is
compared with. Where a workload has traced and untraced runs, the
tracing overhead is the median traced unit wall (``trace.wall_s``) over
the median untraced one (``unit_wall_s``), minus 1: a traced run traces
the unit an untraced run times, so both walls are of the same work.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.inputs import STATE  # noqa: E402
from perfbench.stats import median, quartiles, spread  # noqa: E402


def main(paths: list[str]) -> int:
    runs: dict[tuple[str, bool], dict[str, list[float]]] = {}
    for path in paths or sorted(glob.glob(os.path.join(STATE, "results", "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if not isinstance(rec, dict) or "metrics" not in rec:
            continue  # span files, unfinished runs
        key = (rec["workload"], "trace" in rec)
        for name, m in rec["metrics"].items():
            runs.setdefault(key, {}).setdefault(name, []).append(m["value"])
    for (workload, traced), metrics in sorted(runs.items()):
        print(f"{workload} ({'traced' if traced else 'untraced'})")
        for name, values in metrics.items():
            q1, q2, q3 = quartiles(values)
            print(f"  {name:32s} n={len(values):<3d} median={q2:<12.6g} q1={q1:<12.6g} "
                  f"q3={q3:<12.6g} spread={spread(values):.3f}")
        overhead = tracing_overhead(
            runs.get((workload, True), {}).get("trace.wall_s", []),
            runs.get((workload, False), {}).get("unit_wall_s", []),
        )
        if traced and overhead is not None:
            print(f"  tracing overhead                 {overhead:+.3f}")
    return 0


def tracing_overhead(traced_walls: list[float], untraced_walls: list[float]) -> float | None:
    if not traced_walls or not untraced_walls:
        return None
    return median(traced_walls) / median(untraced_walls) - 1.0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

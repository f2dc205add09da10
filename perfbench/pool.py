#!/usr/bin/env python3
"""Pool the warm ops of a run set and report the warm tail.

    python3 perfbench/pool.py [--workload NAME]

Reads the untraced run records ``perfbench/run.py`` leaves in
``.perfbench_out/`` and prints, per workload, the highest percentile of the
pooled warm ops that has at least ten samples beyond it, with the
percentile and the sample count. It also takes the same percentile in the
first and the second half of the run set and reports whether the two agree
within a tenth; if they do not, the tail is a diagnostic, not a gate.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import OUT_DIR, ROOT, TAIL_BEYOND, tail  # noqa: E402


def at_percentile(values: list[float], pct: float | None) -> float:
    """The sample at percentile ``pct`` (the maximum when ``pct`` is None)."""
    ordered = sorted(values)
    if pct is None:
        return ordered[-1]
    return ordered[max(0, math.ceil(pct / 100.0 * len(ordered)) - 1)]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default=None)
    args = p.parse_args()
    runs: dict[str, list[list[float]]] = {}
    paths = sorted(glob.glob(os.path.join(ROOT, OUT_DIR, "*-trace0-*.json")), key=os.path.getmtime)
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            rec = json.load(fh)
        if args.workload in (None, rec["workload"]):
            warm = [t for t in rec["ops_s"][1:] if t is not None]
            runs.setdefault(rec["workload"], []).append(warm)
    for workload, sets in sorted(runs.items()):
        pooled = [t for warm in sets for t in warm]
        value, pct = tail(pooled)
        half = len(sets) // 2
        halves = [
            at_percentile([t for warm in part for t in warm], pct)
            for part in (sets[:half], sets[half:]) if part
        ]
        agree = len(halves) == 2 and abs(halves[0] - halves[1]) <= 0.1 * min(halves)
        print(json.dumps({
            "workload": workload, "runs": len(sets), "warm_ops": len(pooled),
            "warm_tail_s": value, "percentile": pct, "beyond": TAIL_BEYOND,
            "halves_s": halves, "halves_agree_within_tenth": agree,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Summarise repeated benchmark runs: how steady each metric is.

Usage::

    python3 perfsuite/steadiness.py RUNS_DIR

Reads the untraced run records in ``RUNS_DIR`` (``run.py`` writes them to
``.perfsuite_work/runs/``) and prints, per workload and end-to-end
metric, the median, the quartiles (``statistics.quantiles(n=4)``), the
spread (interquartile distance over the median) and the metric's bound
from ``BENCHMARK.json``.  It then prints the round-time series of each
run, in blocks of three rounds, the series used to choose the warm-up
length: each block's median should stop falling before the measured
phase starts.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(argv[0], "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if not rec["trace"]:
            runs.setdefault(rec["workload"], []).append(rec)
    for workload, recs in sorted(runs.items()):
        seeds = ", ".join(str(r["seed"]) for r in recs)
        print(f"\n### {workload}: {len(recs)} runs (seeds {seeds})\n")
        print("| metric | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|")
        for metric in recs[0]["end_to_end"]:
            v = [r["end_to_end"][metric] for r in recs]
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
            m = statistics.median(v)
            print(f"| {metric} | {m:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / m:.3f} "
                  f"| {bounds.get(metric, '')} |")
        print("\nRound times (s) per run: the warm-up round (it holds the first "
              "pass), then block medians of three measured rounds:\n")
        for r in recs:
            series = r["measured_round_s"]
            blocks = [statistics.median(series[i:i + 3]) for i in range(0, len(series), 3)]
            print(f"- seed {r['seed']}: warm-up {r['warmup_round_s']:.2f}; measured "
                  + ", ".join(f"{x:.2f}" for x in blocks))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark run records.

Usage::

    python3 perfsuite/compare.py RUNS_A RUNS_B

Each argument is a directory of run records as ``run.py`` writes them
(``.perfsuite_work/runs/`` of a checkout).  Untraced runs are paired by
workload and seed.  The command refuses to compare a pair whose corpus
digest, core count or pyspark version differ, and otherwise prints, per
workload and end-to-end metric, each side's median and quartiles, the
ratio of medians, and how many pairs B wins.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

LOWER_IS_BETTER = {"setup_s", "first_s", "cold_s", "warm_s", "peak_rss_mb"}


def load(directory: str) -> dict[tuple[str, int], dict]:
    """Untraced run records keyed by (workload, seed); the latest wins."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if not rec.get("trace"):
            out[(rec["workload"], rec["seed"])] = rec
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def mismatches(a: dict, b: dict) -> list[str]:
    """Why two runs of one workload and seed cannot be compared."""
    why = []
    if a["corpus_md5"] != b["corpus_md5"]:
        why.append("corpus digest")
    for key in ("nproc", "pyspark"):
        if a["host"][key] != b["host"][key]:
            why.append(key)
    return why


def compare(runs_a: dict, runs_b: dict) -> tuple[list[str], list[str]]:
    """(report lines, refusals)."""
    pairs = sorted(set(runs_a) & set(runs_b))
    refusals = [
        f"{w} seed {s}: {', '.join(why)} differ"
        for w, s in pairs
        if (why := mismatches(runs_a[(w, s)], runs_b[(w, s)]))
    ]
    if refusals:
        return [], refusals
    lines = ["workload      metric          n  A median [q1, q3]           "
             "B median [q1, q3]           B/A    B wins"]
    for workload in sorted({w for w, _ in pairs}):
        keys = [k for k in pairs if k[0] == workload]
        for metric in runs_a[keys[0]]["end_to_end"]:
            va = [runs_a[k]["end_to_end"][metric] for k in keys]
            vb = [runs_b[k]["end_to_end"][metric] for k in keys]
            lower = metric in LOWER_IS_BETTER
            wins = sum((b < a) if lower else (b > a) for a, b in zip(va, vb))
            (a1, am, a3), (b1, bm, b3) = quartiles(va), quartiles(vb)
            side_a = f"{am:.4g} [{a1:.4g}, {a3:.4g}]"
            side_b = f"{bm:.4g} [{b1:.4g}, {b3:.4g}]"
            lines.append(f"{workload:<13} {metric:<14} {len(keys):>2}  {side_a:<27} "
                         f"{side_b:<27} {bm / am:<6.3f} {wins}/{len(keys)}")
    return lines, []


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    lines, refusals = compare(load(argv[0]), load(argv[1]))
    if refusals:
        print("refusing to compare:\n  " + "\n  ".join(refusals), file=sys.stderr)
        return 1
    if len(lines) < 2:
        print("no runs pair up by workload and seed", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

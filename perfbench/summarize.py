#!/usr/bin/env python3
"""Median, quartiles and spread of benchmark runs, per workload and metric.

    python3 perfbench/summarize.py [DIR ...] [--json OUT]

Reads the details files (``<workload>-s<seed>-t0.json``) that
``run.py`` writes to ``perfbench/out/`` (or to the given directories)
and prints, for each end-to-end metric of ``BENCHMARK.json``, the median,
the quartiles and the spread: (q3 - q1) / median, with the quartiles of
``statistics.quantiles(values, n=4)``. A spread at or above a third of
the metric's bound is flagged.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(dirs: list[str]) -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs: dict[str, list[dict]] = {}
    for d in dirs:
        for path in sorted(glob.glob(os.path.join(d, "*-t0.json"))):
            with open(path) as f:
                r = json.load(f)
            runs.setdefault(r["workload"], []).append(r)
    out = {}
    for wl, rs in sorted(runs.items()):
        rows = {"runs": len(rs), "seeds": [r["seed"] for r in rs],
                "correct": all(r["line"]["correct"] for r in rs),
                "steal_pct_mean": [r["host"]["steal"]["steal_pct_mean"]
                                   for r in rs],
                "metrics": {}}
        for m in bench["end_to_end"]:
            vals = [r["line"]["metrics"][m["name"]]["value"] for r in rs]
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (med, med, med))
            rows["metrics"][m["name"]] = {
                "unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med, "bound": m["bound"],
                "values": vals}
        out[wl] = rows
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("dirs", nargs="*", default=[os.path.join(HERE, "out")])
    ap.add_argument("--json", help="also write the summary here")
    args = ap.parse_args()
    summary = summarize(args.dirs)
    for wl, rows in summary.items():
        print(f"{wl}: {rows['runs']} runs, correct={rows['correct']}")
        for name, m in rows["metrics"].items():
            flag = "" if m["spread"] < m["bound"] / 3 else "  <-- spread"
            print(f"  {name:18s} median {m['median']:10.3f} {m['unit']:5s}"
                  f" spread {m['spread']:.3f} (bound {m['bound']}){flag}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()

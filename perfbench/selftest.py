#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001, a few thousand rows).

    python3 perfbench/selftest.py [workload ...]

For each workload of BENCHMARK.json (or those named) it checks that:

* every end-to-end and per-layer metric is printed with its unit, and
  every metric that applies to the workload is non-zero;
* the same seed regenerates identical inputs and identical exact counts
  (``space_amp``, ``catalog.files``, ``spark.jobs``, ...);
* an injected wrong answer is counted as a failed operation, marks the
  run incorrect and makes it exit non-zero.

Exits 0 when every check passes. Takes a few minutes per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
#: per-layer metrics measured only by one kind of workload
ONLY = {"registry": ("operators.", "spark.jobs.q"),
        "catalog": ("catalog.", "io.", "sources.", "load_rows_per_s",
                    "rewrite_s", "space_amp")}
#: metrics that may read 0 on a correct run
MAY_BE_ZERO = {"ops_failed_frac", "trace.overhead_s", "spark.spill_mb",
               "spark.shuffle_read_mb", "spark.shuffle_write_mb"}
#: exact counts: equal seeds must give equal values
EXACT = ("space_amp", "catalog.files", "spark.jobs", "spark.stages",
         "spark.tasks", "sources.rows_decoded",
         "catalog.scan_rows_per_result_row")


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    line = json.loads(lines[-1]) if lines else {}
    with open(os.path.join(HERE, "out",
                           f"{workload}-s{SEED}-t{trace}.json")) as f:
        detail = json.load(f)
    return proc.returncode, line, detail


def applies(name: str, kind: str) -> bool:
    return not any(name.startswith(p) for k, ps in ONLY.items()
                   if k != kind for p in ps)


def check_metrics(line: dict, specs: list[dict], kind: str,
                  errors: list[str], tag: str) -> None:
    got = line.get("metrics", {})
    if sorted(got) != sorted(m["name"] for m in specs):
        errors.append(f"{tag}: printed {sorted(got)}")
        return
    for m in specs:
        v = got[m["name"]]
        if v["unit"] != m["unit"]:
            errors.append(f"{tag}: {m['name']} unit {v['unit']}")
        if (applies(m["name"], kind) and m["name"] not in MAY_BE_ZERO
                and not v["value"] > 0):
            errors.append(f"{tag}: {m['name']} = {v['value']}")


def main() -> int:
    sys.path.insert(0, HERE)
    from harness import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    errors: list[str] = []
    for name in names:
        kind = WORKLOADS[name].kind
        code, line, detail = run(name, 0, "--inject-wrong")
        check_metrics(line, bench["end_to_end"], kind, errors,
                      f"{name} t0")
        if code == 0 or line.get("correct") or not line.get("failed"):
            errors.append(f"{name}: injected wrong answer not counted "
                          f"(exit {code}, {line.get('failed')} failed)")
        firsts = []
        for _ in range(2):
            code, line, detail = run(name, 1)
            check_metrics(line, bench["per_layer"], kind, errors,
                          f"{name} t1")
            if code != 0 or not line.get("correct"):
                errors.append(f"{name} t1: exit {code}, {detail['error']}, "
                              f"wrong {detail['wrong']}")
            firsts.append((detail["sizes"]["digest"],
                           {k: detail["metrics"].get(k) for k in EXACT}))
        if firsts[0] != firsts[1]:
            errors.append(f"{name}: seed {SEED} not reproducible: "
                          f"{firsts}")
        print(f"selftest {name}: {'FAIL' if errors else 'ok'}", flush=True)
    for e in errors:
        print("  " + e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

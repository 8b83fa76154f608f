#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics named in ``BENCHMARK.json``; ``--trace 1`` runs the same workload
with spans and Spark counters on and prints the per-layer metrics. The
last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``;
every sample, the spans and the host facts go to
``perfbench/out/<workload>-s<seed>-t<trace>.json``.

Each run is hermetic: its warehouse, Spark local dirs, temp dir and JVM
temp dir live in ``perfbench/.run-<pid>/``, removed at exit, and every
process the run starts is stopped and waited for. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from recorder import RUN_MARK, marked_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's sf0.001 / few-thousand-row "
                         "inputs")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one expected answer (self-test only)")
    return ap.parse_args(argv)


def hermetic_env(run_dir: str, cpus: int) -> dict[str, str]:
    """Environment that keeps every file the run writes inside run_dir.

    Set before pyspark or the engine is imported: ``tempfile`` caches its
    directory on first use, and the JVM and its Python workers inherit
    this environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    return {
        RUN_MARK: run_dir,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine's 16g default assumes a dedicated host; the inputs
        # here peak far below 4g and the host's memory is shared
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "CSTORE_SPARK_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
    }


def stop_marked(run_dir: str, timeout: float = 20.0) -> None:
    """TERM, wait, then KILL whatever this run started and left alive."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = marked_pids(run_dir)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while pids and time.monotonic() < deadline:
            for pid in pids:
                try:  # reap our own children; others just disappear
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = marked_pids(run_dir)
            time.sleep(0.1)
        if not pids:
            return


def start_steal_sampler(run_dir: str) -> tuple[subprocess.Popen, str]:
    """``scripts/steal_sampler.py`` as-is, at a 1 s cadence."""
    log = os.path.join(run_dir, "steal.log")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "scripts", "steal_sampler.py"),
         log, "1"], stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return proc, log


def stop_steal_sampler(proc: subprocess.Popen, log: str) -> dict:
    proc.terminate()
    proc.wait(timeout=10)
    steal, idle = [], []
    if os.path.exists(log):
        with open(log) as f:
            for line in f:
                kv = dict(p.split("=") for p in line.split()[1:])
                steal.append(float(kv["steal_pct"]))
                idle.append(float(kv["idle_pct"]))
    n = len(steal)
    return {"samples": n,
            "steal_pct_mean": round(sum(steal) / n, 2) if n else None,
            "steal_pct_max": max(steal) if n else None,
            "idle_pct_mean": round(sum(idle) / n, 2) if n else None}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("cstore_fdw_spark", "scripts/make_scale_data.py",
                           "scripts/local_gate.py", "scripts/steal_sampler.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing "
              f"{', '.join(missing)} under {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(HERE, f".run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ.update(hermetic_env(run_dir, len(os.sched_getaffinity(0))))
    time.tzset()
    tempfile.tempdir = None
    # a TERM (a timeout) unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    sampler = None
    t0 = time.perf_counter()
    try:
        sampler, steal_log = start_steal_sampler(run_dir)
        import harness  # noqa: E402 — after the environment is set
        result = harness.run_workload(args, run_dir)
        result["host"]["steal"] = stop_steal_sampler(sampler, steal_log)
        sampler = None
    finally:
        if sampler is not None:
            sampler.kill()
            sampler.wait()
        t1 = time.perf_counter()
        stop_marked(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    result["timing"] = {"workload_s": t1 - t0,
                        "cleanup_s": time.perf_counter() - t1}
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    detail = os.path.join(
        out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(detail, "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(f"perfbench: details in {os.path.relpath(detail, ROOT)}")
    print(json.dumps(result["line"]), flush=True)
    return 0 if result["line"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""One benchmark run: set-up, the passes, and the metrics.

``run.py`` has already made the environment hermetic when this module is
imported. The run generates its inputs (``SETUP_REPS`` times, to take a
median and to prove the seed regenerates identical bytes), starts the
engine's SparkSession, runs one cold pass and a fixed number of warm
passes, checks every answer, and derives the metrics named in
``BENCHMARK.json`` from the recorded operations.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import statistics
import time

import duckdb
from pyspark import SparkContext

import wl_catalog
import wl_registry
from recorder import Recorder, cpu_seconds

WORKLOADS = {**wl_registry.WORKLOADS, **wl_catalog.WORKLOADS}
#: input generations per run; setup_s takes their median
SETUP_REPS = 3
#: a read tail needs this many samples beyond it
TAIL_BEYOND = 10


def dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for fn in sorted(os.listdir(path)):
        h.update(fn.encode())
        with open(os.path.join(path, fn), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate_inputs(wl, root: str, run_dir: str, seed: int, scale: str
                    ) -> tuple[str, dict, list[float], list[float]]:
    times, cpus, digests, sizes = [], [], [], {}
    for i in range(SETUP_REPS):
        out = os.path.join(run_dir, f"inputs{i}")
        cpu0, t0 = cpu_seconds(), time.perf_counter()
        sizes = wl.generate(root, out, seed, scale)
        times.append(time.perf_counter() - t0)
        cpus.append(cpu_seconds() - cpu0)
        digests.append(dir_digest(out))
    if len(set(digests)) != 1:
        raise RuntimeError(f"seed {seed} generated different inputs: "
                           f"{digests}")
    for i in range(1, SETUP_REPS):
        shutil.rmtree(os.path.join(run_dir, f"inputs{i}"))
    sizes["input_bytes"] = sum(
        os.path.getsize(os.path.join(run_dir, "inputs0", f))
        for f in os.listdir(os.path.join(run_dir, "inputs0")))
    sizes["digest"] = digests[0]
    return os.path.join(run_dir, "inputs0"), sizes, times, cpus


def start_session(run_dir: str, traced: bool):
    from cstore_fdw_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_confs={
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads its counters from the UI's REST API
        "spark.ui.enabled": str(traced).lower(),
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is ready once it has run a job
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    gateway.proc.wait(timeout=60)


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def host_facts(spark) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    jvm = spark.sparkContext._jvm
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(mem_kb / 2**20, 1),
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "master": spark.sparkContext.master,
            "spark": spark.version, "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "python": platform.python_version(),
            "java": jvm.System.getProperty("java.version")}


def run_workload(args, run_dir: str) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]

    inputs, sizes, gen_times, gen_cpus = generate_inputs(
        wl, root, run_dir, args.seed, args.scale)
    cpu0, t0, started = cpu_seconds(), time.perf_counter(), time.time()
    spark = start_session(run_dir, bool(args.trace))
    session_s = time.perf_counter() - t0
    session_cpu = cpu_seconds() - cpu0
    try:
        duck = duckdb.connect(config={
            "autoinstall_known_extensions": "false",
            "autoload_known_extensions": "false",
            "temp_directory": os.environ["TMPDIR"]})
        t_prep = time.perf_counter()
        state = wl.prepare(root, spark, inputs, args.seed, duck,
                           args.inject_wrong)
        prepare_s = time.perf_counter() - t_prep
        rec = Recorder(spark)
        if args.trace:
            rec.add_span("session.get_spark", started, started + session_s)
        n_warm = max(wl.min_warm, round(args.seconds / wl.nominal_pass_s))
        plan = wl.plan(n_warm)
        if args.trace:
            # one untraced copy of the first warm phase, next to the
            # traced ones, so JIT warm-up does not bias the overhead
            i = next(i for i, (kind, _) in enumerate(plan) if kind == "warm")
            plan.insert(i + 1, ("untraced", plan[i][1]))
        error = None
        for kind, step in plan:
            rec.begin_phase(kind, traced=bool(args.trace)
                            and kind != "untraced")
            try:
                step(state, rec)
            except Exception as exc:  # noqa: BLE001 — counted, reported
                error = f"{type(exc).__name__}: {exc}"[:2000]
            finally:
                rec.end_phase()
            if error:
                break
        rss = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
        host = host_facts(spark)
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t_stop

    # a run cut short by an exception has no passes to measure
    metrics = {} if error else derive_metrics(rec, rss)
    metrics.update({
        "setup_s": session_cpu + statistics.median(gen_cpus),
        "setup_wall_s": session_s + statistics.median(gen_times),
        "session.get_spark_s": session_s})
    top = [op for op in rec.ops if op.top]
    attempted, failed = len(top), sum(op.failed for op in top)
    metrics["ops_failed_frac"] = failed / max(attempted, 1)
    names = bench["per_layer" if args.trace else "end_to_end"]
    line = {"correct": error is None and failed == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0),
                                    "unit": m["unit"]} for m in names}}
    return {"line": line, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "scale": args.scale, "error": error, "sizes": sizes,
            "setup": {"generate_s": gen_times, "generate_cpu_s": gen_cpus,
                      "session_s": session_s,
                      "session_cpu_s": session_cpu, "prepare_s": prepare_s,
                      "stop_s": stop_s},
            "host": host, "metrics": metrics,
            "phases": [vars(p) for p in rec.phases],
            "ops": [{k: v for k, v in vars(op).items() if k != "span"}
                    for op in rec.ops],
            "wrong": [op.info["wrong"] for op in rec.ops
                      if "wrong" in op.info],
            "spans": rec.spans, "scan_nodes": rec.scan_nodes}


def derive_metrics(rec: Recorder, rss_mb: float) -> dict:
    """End-to-end and per-layer metrics of one run.

    A phase-scoped figure is the median over the warm phases, plus, for
    additive figures, what the once-per-run phases (load, rewrite, drop)
    spent. The cold phase and the untraced phase count only in
    ``cold_pass_s`` and ``trace.overhead_s``."""
    cold = next(p for p in rec.phases if p.kind == "cold")
    warm = [p for p in rec.phases if p.kind == "warm"]
    once = [p for p in rec.phases
            if p.kind not in ("cold", "warm", "untraced")]
    # cold reads are in cold_pass_s; mixed in, they would put the median
    # on the gap between the two distributions
    reads = [op for op in rec.ops
             if op.read and rec.phases[op.phase_no].kind == "warm"]
    m = {"cold_pass_s": cold.wall,
         "pass_s": statistics.median(p.wall for p in warm),
         "pass_cpu_s": statistics.median(p.cpu for p in warm),
         "cold_pass_cpu_s": cold.cpu,
         "peak_rss_mb": rss_mb}
    if reads:
        lat = sorted(op.seconds for op in reads)
        m["read_p50_s"] = statistics.median(lat)
        m["read_p50_cpu_s"] = statistics.median(op.cpu for op in reads)
        # the highest percentile with TAIL_BEYOND samples beyond it; when
        # that is below the median (under 21 reads), the slowest read
        i = len(lat) - TAIL_BEYOND - 1
        if i < len(lat) // 2:
            i = len(lat) - 1
        m["read_tail_s"] = lat[i]
        m["read_tail_pct"] = 100.0 * i / len(lat)
        m["read_n"] = len(lat)
    for k in {k for p in warm + once for k in p.totals}:
        m[k] = (statistics.median(p.totals.get(k, 0.0) for p in warm)
                + sum(p.totals.get(k, 0.0) for p in once))
    for k in {k for p in warm + once for k in p.values}:
        vals = [p.values[k] for p in warm if k in p.values]
        m[k] = (statistics.median(vals) if vals else
                next(p.values[k] for p in once if k in p.values))
    m["rewrite_s"] = (m.get("catalog.delete_where_s", 0.0)
                      + m.get("catalog.compact_s", 0.0))
    untraced = [p.wall for p in rec.phases if p.kind == "untraced"]
    if untraced:
        m["trace.overhead_s"] = m["pass_s"] - untraced[0]
    return m

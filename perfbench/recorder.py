"""Operation timing, spans and Spark counters for one benchmark run.

A run is a list of phases (``cold``, ``warm``, ``load``, ...); every
operation the benchmark makes inside a phase is timed (``Recorder.op``).
In a traced phase each operation is also a span (name, start, end,
parent) and tags its Spark jobs with a job group of its own; after the
phase the jobs, stages and SQL executions of those groups are read from
Spark's REST API (``/api/v1``) and charged to the spans. Spans and
counters stay in memory until the run writes its details file.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

#: marker inherited by every process a run starts (JVM, Python workers),
#: so their CPU time can be summed and leftovers stopped at exit
RUN_MARK = "PERFBENCH_RUN"
#: op layer -> the per-layer metric its seconds add to (default: layer+"_s")
LAYER_METRIC = {"catalog.sql": "catalog.sql_plan_s"}
#: layers whose seconds are also reported per query name
PER_NAME_LAYERS = ("operators.build", "operators.execute")


@dataclass
class Op:
    phase_no: int
    layer: str
    name: str
    seconds: float = 0.0
    #: CPU seconds of the run's processes, for reads only
    cpu: float = 0.0
    read: bool = False
    failed: bool = False
    #: a direct child of the phase: one attempted operation
    top: bool = False
    #: set by the workload: rows returned, files the table had, ...
    info: dict = field(default_factory=dict)
    span: dict | None = None


@dataclass
class Phase:
    no: int
    kind: str
    traced: bool
    wall: float = 0.0
    cpu: float = 0.0
    #: additive: seconds and counts
    totals: dict = field(default_factory=dict)
    #: ratios and one-off measurements
    values: dict = field(default_factory=dict)


class Recorder:
    def __init__(self, spark):
        self.spark = spark
        self.ops: list[Op] = []
        self.phases: list[Phase] = []
        self.spans: list[dict] = []
        #: every scan node's SQL metrics, as Spark printed them
        self.scan_nodes: list[dict] = []
        self._stack: list[dict] = []
        self.phase: Phase | None = None
        self._depth = 0
        self._t0 = self._cpu0 = 0.0
        self._rest = None

    # ------------------------------------------------------------ phases
    def begin_phase(self, kind: str, traced: bool) -> None:
        self.phase = Phase(len(self.phases), kind, traced)
        self.phases.append(self.phase)
        if traced:
            self._open_span("phase", kind)
        self._cpu0 = cpu_seconds()
        self._t0 = time.perf_counter()

    def end_phase(self) -> Phase:
        p = self.phase
        p.wall = time.perf_counter() - self._t0
        p.cpu = cpu_seconds() - self._cpu0
        if p.traced:
            root = self._close_span()
            self._spark_counters(p, root)
            p.values["trace.span_coverage"] = _coverage(
                root, [s for s in self.spans if s["parent"] == root["id"]])
        for op in self.ops:
            if op.phase_no != p.no:
                continue
            key = LAYER_METRIC.get(op.layer, op.layer + "_s")
            _add(p.totals, key, op.seconds)
            if op.layer in PER_NAME_LAYERS:
                _add(p.totals, f"{key}.{op.name}", op.seconds)
        self.phase = None
        return p

    def add_span(self, name: str, start: float, end: float) -> None:
        """A span measured before the first phase (session start)."""
        self.spans.append({"id": len(self.spans), "parent": None,
                           "name": name, "layer": name, "op": name,
                           "top": None, "group": None,
                           "start": start, "end": end})

    def set(self, key: str, value: float) -> None:
        """A one-off measurement of the workload's own (a ratio, a size)."""
        self.phase.values[key] = value

    # --------------------------------------------------------------- ops
    @contextmanager
    def op(self, layer: str, name: str = "", read: bool = False):
        rec = Op(self.phase.no, layer, name, read=read, top=not self._depth)
        self.ops.append(rec)
        self._depth += 1
        if self.phase.traced:
            rec.span = self._open_span(layer, name)
        cpu0 = cpu_seconds() if read else 0.0
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException:
            rec.failed = True
            raise
        finally:
            rec.seconds = time.perf_counter() - t0
            if read:
                rec.cpu = cpu_seconds() - cpu0
            self._depth -= 1
            if rec.span is not None:
                self._close_span()

    def check(self, op: Op, ok: bool, what: str) -> None:
        """Mark ``op`` failed when its answer was wrong."""
        if not ok:
            op.failed = True
            op.info.setdefault("wrong", []).append(what)

    def catalyst(self, df, force_plan: bool) -> None:
        """Analysis + optimization + planning seconds of ``df``'s
        QueryExecution, added to the phase (traced phases only).

        ``force_plan`` plans a DataFrame the benchmark executes through a
        separate writer; that extra planning is part of the tracing
        overhead the run reports."""
        if not self.phase.traced:
            return
        qe = df._jdf.queryExecution()
        if force_plan:
            qe.executedPlan()
        phases = qe.tracker().phases()
        ms = 0
        for name in ("analysis", "optimization", "planning"):
            ph = phases.get(name)
            if ph.isDefined():
                ms += ph.get().durationMs()
        _add(self.phase.totals, "spark.catalyst_s", ms / 1000.0)

    # ------------------------------------------------------------- spans
    def _open_span(self, layer: str, name: str) -> dict:
        span = {"id": len(self.spans),
                "parent": self._stack[-1]["id"] if self._stack else None,
                "name": f"{layer}:{name}" if name else layer,
                "layer": layer, "op": name or layer, "top": None,
                "group": None,
                "start": time.time(), "end": None}
        if self._stack:
            parent = self._stack[-1]
            # top: the phase's direct child this span belongs to
            span["top"] = (span["id"] if parent["parent"] is None
                           else parent["top"])
            span["group"] = f"pb{self.phase.no}-{span['id']}"
            self.spark.sparkContext.setJobGroup(span["group"], span["name"])
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close_span(self) -> dict:
        span = self._stack.pop()
        span["end"] = time.time()
        sc = self.spark.sparkContext
        if self._stack and self._stack[-1]["group"]:
            parent = self._stack[-1]
            sc.setJobGroup(parent["group"], parent["name"])
        elif span["group"]:
            sc._jsc.clearJobGroup()
        return span

    # --------------------------------------------------- Spark counters
    def _get(self, path: str):
        if self._rest is None:
            port = self.spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
            app = self.spark.sparkContext.applicationId
            self._rest = f"http://127.0.0.1:{port}/api/v1/applications/{app}"
        with urllib.request.urlopen(self._rest + path, timeout=60) as r:
            return json.load(r)

    def _spark_counters(self, p: Phase, root: dict) -> None:
        spans = {s["group"]: s for s in self.spans
                 if s["group"] and s["group"].startswith(f"pb{p.no}-")}
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in spans]
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self._get("/stages")
                  if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        out = {"spark.jobs": len(jobs), "spark.stages": len(stages),
               "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
               "spark.executor_run_s":
                   sum(s["executorRunTime"] for s in stages) / 1e3,
               "spark.executor_cpu_s":
                   sum(s["executorCpuTime"] for s in stages) / 1e9,
               "spark.input_mb": sum(s["inputBytes"] for s in stages) / 2**20,
               "spark.shuffle_read_mb":
                   sum(s["shuffleReadBytes"] for s in stages) / 2**20,
               "spark.shuffle_write_mb":
                   sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
               "spark.spill_mb": sum(s["memoryBytesSpilled"]
                                     + s["diskBytesSpilled"]
                                     for s in stages) / 2**20}
        for j in jobs:
            top = self.spans[spans[j["jobGroup"]]["top"]]
            _add(out, f"spark.jobs.{top['op']}", 1)
        intervals = []
        for j in jobs:
            if j.get("submissionTime") and j.get("completionTime"):
                intervals.append((max(_epoch(j["submissionTime"]),
                                      root["start"]),
                                  min(_epoch(j["completionTime"]),
                                      root["end"])))
        active = _union(intervals)
        out["spark.job_active_s"] = active
        out["spark.driver_gap_s"] = p.wall - active
        p.totals.update(out)
        self._scan_counters(p, {j["jobId"]: spans[j["jobGroup"]]
                                for j in jobs})

    def _scan_counters(self, p: Phase, job_span: dict) -> None:
        """Scan-node SQL metrics of the phase's executions."""
        reads = {op.span["id"]: op for op in self.ops
                 if op.phase_no == p.no and op.layer == "read" and op.span}
        out = p.totals
        scan_rows = result_rows = files_read = files_all = 0
        offset = 0
        while True:
            page = self._get(f"/sql?details=true&planDescription=false"
                             f"&offset={offset}&length=500")
            for ex in page:
                ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                span = next((job_span[i] for i in ids if i in job_span), None)
                if span is None:
                    continue
                read = reads.get(span["top"])
                for node in ex["nodes"]:
                    name = node["nodeName"]
                    if not (name.startswith("Scan ")
                            or name.startswith("BatchScan")):
                        continue
                    m = {x["name"]: x["value"] for x in node["metrics"]}
                    self.scan_nodes.append({"phase": p.no, "node": name,
                                            "metrics": m})
                    rows = _number(m.get("number of output rows", "0"))
                    python = "BatchScan" in name and "cstore" in name
                    if python:
                        _add(out, "sources.rows_decoded", rows)
                        # Spark reports no Python time for data-source
                        # scans; bytes returned stand in for the work
                        _add(out, "sources.python_returned_mb", _number(
                            m.get("data returned from Python workers",
                                  "0")) / 2**20)
                    if read is not None:
                        scan_rows += rows
                        files = read.info.get("table_files", 0)
                        files_all += files
                        # the v1.7 reader plans every stripe of every file
                        files_read += (files if python else
                                       _number(m.get("number of files read",
                                                     "0")))
            if len(page) < 500:
                break
            offset += 500
        for op in reads.values():
            result_rows += op.info.get("result_rows", 0)
        if reads:
            p.values["catalog.scan_rows_per_result_row"] = (
                scan_rows / max(result_rows, 1))
            p.values["catalog.files_read_frac"] = (
                files_read / max(files_all, 1))


def marked_pids(run_dir: str) -> list[int]:
    """Live processes (other than this one) started by this run."""
    needle = f"{RUN_MARK}={run_dir}".encode()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(d))
        except OSError:
            continue
    return out


def cpu_seconds() -> float:
    """User + system CPU of this process and every process the run
    started, including their reaped children. Unlike wall time it does
    not grow with the CPU steal of a shared host."""
    run_dir = os.environ.get(RUN_MARK)
    pids = [os.getpid()] + (marked_pids(run_dir) if run_dir else [])
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since the scan
        # utime stime cutime cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _add(d: dict, key: str, v: float) -> None:
    d[key] = d.get(key, 0) + v


def _epoch(ts: str) -> float:
    """``2026-10-17T04:22:11.123GMT`` -> seconds since the epoch."""
    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _coverage(root: dict, children: list[dict]) -> float:
    wall = root["end"] - root["start"]
    return _union([(c["start"], c["end"]) for c in children]) / wall


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30}


def _number(text: str) -> float:
    """A SQL metric's total: ``"10,000"``, ``"3.9 MiB"``, or the first
    figure of a ``"total (min, med, max ...)\\n63 ms (6 ms, ...)"``."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)

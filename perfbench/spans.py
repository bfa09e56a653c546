"""Spans and per-layer counters for a traced run.

The benchmark records spans from its own code, around each call into a
layer: run -> setup / pass -> op -> build | collect | write, and below
those the Spark jobs and stages the call started. Jobs are tagged per
call with ``setJobGroup``; after each traced pass they are read back
from Spark's status REST API, outside the pass's measured time. Spans
stay in memory and are written as one JSON file when the run ends.
``/proc`` supplies CPU time and peak memory of the JVM, the Python
driver and the Python workers.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")

#: physical-plan nodes that cross into Python workers
PYTHON_NODE = re.compile(r"InPandas|EvalPython|InArrow|PythonUDTF|WindowPython")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def cpu_s(pid: int, children: bool = False) -> float:
    """User+system CPU seconds of ``pid`` (plus its reaped children)."""
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``."""
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                ppid = int(_stat_fields(int(p))[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def python_workers(jvm_pid: int) -> list[int]:
    out = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    out.append(pid)
        except OSError:
            continue
    return out


class Procs:
    """CPU and memory of the processes one Spark session runs on."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        workers = 0.0
        for pid in python_workers(self.jvm_pid):
            try:
                workers += cpu_s(pid, children=True)
            except OSError:
                continue
        t = os.times()
        return {
            "jvm.cpu_s": cpu_s(self.jvm_pid),
            "driver.cpu_s": t.user + t.system,
            "python.worker_cpu_s": workers,
        }

    def peak_rss_mb(self) -> float:
        total = hwm_mb(self.jvm_pid) + hwm_mb(os.getpid())
        for pid in python_workers(self.jvm_pid):
            try:
                total += hwm_mb(pid)
            except OSError:
                continue
        return total


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    t = datetime.datetime.strptime(ts[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Collects spans and per-pass counters for one Spark session at a time."""

    def __init__(self):
        self.spans: list[dict] = []
        self._seq = 0
        self._sql_seen = 0

    def bind(self, spark) -> None:
        """Point the tracer at a (new) session."""
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.sc = sc
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def span(self, name: str, kind: str, start: float, end: float | None,
             parent: dict | None, **attrs) -> dict:
        """Record a span; ``end`` may be filled in later."""
        self._seq += 1
        span = {"id": self._seq, "parent": parent and parent["id"], "name": name,
                "kind": kind, "start": start, "end": end, **attrs}
        self.spans.append(span)
        return span

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def refresh(self) -> None:
        """Read the jobs and completed stages Spark has recorded so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._jobs: dict[str, list[dict]] = {}
        for job in self._get("/jobs"):
            self._jobs.setdefault(job.get("jobGroup"), []).append(job)
        self._stages: dict[int, list[dict]] = {}
        for st in self._get("/stages?status=complete"):
            self._stages.setdefault(st["stageId"], []).append(st)

    def jobs(self, group: str, parent: dict, counters: dict, lo: float, hi: float) -> list[int]:
        """Record the jobs and stages of ``group`` (as of the last
        ``refresh``) under span ``parent``; add their totals to
        ``counters``; return the job ids."""
        jobs = sorted(self._jobs.get(group, []), key=lambda j: j["jobId"])
        stage_spans = []
        for job in jobs:
            jspan = self.span(f"job {job['jobId']}", "job", _epoch(job.get("submissionTime")),
                              _epoch(job.get("completionTime")), parent,
                              status=job["status"])
            for sid in job["stageIds"]:
                for st in self._stages.get(sid, []):
                    a, b = _epoch(st.get("submissionTime")), _epoch(st.get("completionTime"))
                    self.span(f"stage {sid}.{st['attemptId']}", "stage", a, b, jspan,
                              tasks=st["numCompleteTasks"])
                    if a is not None and b is not None:
                        stage_spans.append((a, b))
                    counters["exec.stages"] += 1
                    counters["exec.tasks"] += st["numCompleteTasks"]
                    counters["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                    counters["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    counters["spark.gc_s"] += st["jvmGcTime"] / 1e3
                    counters["exchange.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    counters["exchange.shuffle_read_bytes"] += st["shuffleReadBytes"]
                    counters["exchange.spill_bytes"] += st["diskBytesSpilled"]
                    counters["scan.input_bytes"] += st["inputBytes"]
        counters["spark.driver_gap_s"] += (hi - lo) - _covered(stage_spans, lo, hi)
        return [job["jobId"] for job in jobs]

    def plan_census(self, job_ids: set[int], counters: dict) -> None:
        """Count Python-boundary and columnar-to-row nodes in the SQL
        executions that ran ``job_ids``."""
        new = self._get(f"/sql?details=true&planDescription=false"
                        f"&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(new)
        for ex in new:
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                if PYTHON_NODE.search(node["nodeName"]):
                    counters["python.boundary_nodes"] += 1
                elif node["nodeName"] == "ColumnarToRow":
                    counters["plan.c2r_nodes"] += 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)

"""Measurement plumbing: spans, Spark's status REST API and per-process
CPU/RSS from /proc.

Spans are recorded by the benchmark around its own calls into the
program (name, start, end, parent, run id) and kept in memory until the
run ends. Spark jobs and stages become child spans: each benchmark span
sets a Spark job group on entry, so the REST API's ``jobGroup`` field
ties every job to the span that ran it, and the job's call site is kept
on the child span.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
# epoch → monotonic, so REST timestamps and spans share one clock
_EPOCH_TO_MONO = time.time() - time.monotonic()


# ---------------------------------------------------------------------------
# /proc: CPU-seconds and RSS of the process tree, split by role
# ---------------------------------------------------------------------------

def _pss(pid: str) -> int:
    """Proportional set size: forked Python workers share most pages
    with their daemon, and summing plain RSS would count those once per
    fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _proc_table() -> dict:
    """pid → (ppid, comm, cpu_s including reaped children)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1:s.rindex(")")]
        f = s[s.rindex(")") + 2:].split()
        # fields after comm: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14)
        cpu = sum(int(x) for x in f[11:15]) / _CLK
        table[int(d)] = (int(f[1]), comm, cpu)
    return table


def proc_tree(root: int | None = None, memory: bool = False) -> dict:
    """{role: [cpu_s, pss_bytes]} over the live tree under ``root``
    (memory only when asked: reading it walks page tables).

    Roles: ``driver`` (this Python process), ``jvm`` (the java process
    PySpark launched) and ``python_workers`` (everything under the JVM:
    the pyspark daemon and its forked workers). A reaped worker's CPU
    stays counted through its parent's cutime/cstime."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids: dict = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out = {"driver": [0.0, 0], "jvm": [0.0, 0], "python_workers": [0.0, 0]}
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        if pid not in table:
            continue
        _, comm, cpu = table[pid]
        if role == "driver" and comm == "java":
            role = "jvm"
        out[role][0] += cpu
        if memory:
            out[role][1] += _pss(str(pid))
        child_role = "python_workers" if role != "driver" else "driver"
        stack.extend((c, child_role) for c in kids.get(pid, ()))
    return out


def cpu_by_role() -> dict:
    return {k: v[0] for k, v in proc_tree().items()}


class RssSampler:
    """Background thread tracking the peak resident memory (PSS) summed
    over the tree."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak,
                            sum(v[1] for v in
                                proc_tree(memory=True).values()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------

def rest_time(s: str | None) -> float | None:
    """'2026-01-01T00:00:00.123GMT' → monotonic seconds."""
    if not s:
        return None
    dt = datetime.datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return (dt.replace(tzinfo=datetime.timezone.utc).timestamp()
            - _EPOCH_TO_MONO)


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40}


def sql_metric_total(value: str) -> tuple[float, str]:
    """Total of a formatted SQL metric: '...\\n13.2 MiB (min, ...)' or
    '38,220' → (number in base units, unit kind)."""
    line = value.split("\n")[-1].split(" (")[0].strip()
    num, _, unit = line.partition(" ")
    num = float(num.replace(",", ""))
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit], "bytes"
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}.get(unit)
    if scale is not None:
        return num * scale, "s"
    return num, "count"


class SparkRest:
    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settle(self, group_prefix: str, timeout: float = 20.0) -> list:
        """Jobs whose group starts with ``group_prefix``, once the status
        store has seen every one of them finish (the listener bus trails
        the action that ran them)."""
        deadline = time.monotonic() + timeout
        prev = None
        while True:
            jobs = [j for j in self.get("/jobs")
                    if (j.get("jobGroup") or "").startswith(group_prefix)]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            key = [(j["jobId"], j["status"]) for j in jobs]
            if (done and key == prev) or time.monotonic() > deadline:
                return jobs
            prev = key
            time.sleep(0.25)

    def stages(self, stage_ids) -> list:
        want = set(stage_ids)
        return [s for s in self.get("/stages")
                if s["stageId"] in want and s["status"] == "COMPLETE"]

    def task_skew(self, stage: dict) -> float:
        """Slowest task ÷ median task, by executor run time."""
        q = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                     "/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        return top / med if med else 1.0

    def executions(self, job_ids) -> list:
        """SQL executions (with per-node metrics) that ran these jobs."""
        want = set(job_ids)
        ex = self.get("/sql?details=true&planDescription=false"
                      "&offset=0&length=100000")
        return [e for e in ex
                if want & set(e.get("successJobIds", [])
                              + e.get("failedJobIds", [])
                              + e.get("runningJobIds", []))]

    def storage_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self.get("/storage/rdd"))


_STAGE_RE = re.compile(r"stage (\d+)\.\d+")


def arrow_udf_nodes(executions: list) -> tuple[set, float, float]:
    """MapInArrow nodes of these executions → (ids of the stages that
    ran them, bytes sent to Python, bytes returned from Python)."""
    stage_ids, sent, recv = set(), 0.0, 0.0
    for e in executions:
        for n in e.get("nodes", []):
            if "MapInArrow" not in n["nodeName"]:
                continue
            for m in n["metrics"]:
                stage_ids.update(int(x) for x in _STAGE_RE.findall(m["value"]))
                if m["name"] == "data sent to Python workers":
                    sent += sql_metric_total(m["value"])[0]
                elif m["name"] == "data returned from Python workers":
                    recv += sql_metric_total(m["value"])[0]
    return stage_ids, sent, recv


def stage_wall(s: dict) -> float:
    return rest_time(s["completionTime"]) - rest_time(s["submissionTime"])


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder. ``span`` sets the Spark job group of the
    calling thread to the span's id so REST jobs can be attributed."""

    def __init__(self, sc, rest: "SparkRest", run_id: str):
        self.sc = sc
        self.rest = rest
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    def open(self, name: str, **attrs) -> dict:
        """Start a span under the innermost open one; jobs run until it
        is closed (or a child opens) land in it."""
        sp = {"id": len(self.spans), "name": name, "run": self.run_id,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(self.group(sp), name)
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = time.monotonic()
        self._stack.remove(sp)
        if self._stack:
            self.sc.setJobGroup(self.group(self._stack[-1]),
                                self._stack[-1]["name"])
        else:
            # later untraced work must not land in this span
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group(self, sp: dict) -> str:
        return f"{self.run_id}/{sp['id']}"

    @contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def by_group(self) -> dict:
        return {self.group(sp): sp for sp in self.spans}

    def add_spark_children(self) -> tuple[list, dict]:
        """Attach REST jobs (and their completed stages) as children of
        the span whose job group ran them. Returns (jobs, stages by id)."""
        groups = self.by_group()
        jobs = self.rest.settle(self.run_id + "/")
        stages = {s["stageId"]: s for s in self.rest.stages(
            sid for j in jobs for sid in j["stageIds"])}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            parent = groups.get(j.get("jobGroup"))
            if parent is None or not j.get("completionTime"):
                continue
            js = {"id": len(self.spans), "name": f"job {j['jobId']}",
                  "callsite": j["name"], "run": self.run_id,
                  "parent": parent["id"],
                  "start": rest_time(j["submissionTime"]),
                  "end": rest_time(j["completionTime"]), "kind": "job"}
            self.spans.append(js)
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or not s.get("completionTime"):
                    continue
                self.spans.append({
                    "id": len(self.spans), "name": f"stage {sid}",
                    "callsite": s["name"], "run": self.run_id,
                    "parent": js["id"], "kind": "stage",
                    "start": rest_time(s["submissionTime"]),
                    "end": rest_time(s["completionTime"]),
                    "executor_cpu_s": s["executorCpuTime"] / 1e9,
                    "executor_run_s": s["executorRunTime"] / 1e3,
                    "shuffle_write_bytes": s["shuffleWriteBytes"]})
        return jobs, stages

    def self_times(self) -> dict:
        """span id → duration minus the part of it its children cover."""
        kids: dict = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        return {sp["id"]: (sp["end"] - sp["start"]) - covered(
                    sp, kids.get(sp["id"], ()))
                for sp in self.spans if sp["end"] is not None}


def covered(within: dict, spans) -> float:
    """Seconds of ``within``'s interval that the union of ``spans``
    covers."""
    ivs = sorted((max(c["start"], within["start"]),
                  min(c["end"], within["end"]))
                 for c in spans if c["end"] is not None)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(xs) -> float:
    return float(statistics.median(xs))

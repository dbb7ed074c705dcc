"""Spans around the benchmark's calls into the engine, and Spark's own
counters attributed to those spans by job group.

A traced span sets a Spark job group of its own for its duration, so
every job the call causes, including jobs Spark submits from helper
threads, carries the span's group. After the run the counters are read
from Spark's REST API (jobs, stages, SQL executions) and summed per
span. Nothing is added to the engine.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# Spark UI metric strings -> base units (bytes, seconds)
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "PiB": 2**50, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
# SQL-node metrics of the Python/Arrow evaluation nodes
# (ArrowEvalPython, FlatMap(Co)GroupsInPandas, MapInPandas, ...)
PYTHON_NODE_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_start_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks",
    "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "input_records", "bytes_written",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s",
    "max_stage_shuffle_write_bytes", "spill_bytes",
    "python_run_s", "python_start_s", "python_bytes_sent",
    "python_bytes_returned", "python_rows", "driver_s",
)


class Spans:
    """In-memory span log: name, start, end, parent, shared run id.

    ``set_group`` (a callable taking a group id or None) is installed
    once a SparkContext exists; a span opened with ``traced=True`` then
    owns a job group for its duration and restores the enclosing
    span's group when it ends. Spans inside an untraced span are
    untraced."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self.set_group = None
        self._stack: list[int] = []

    def _group_of(self, sid: int | None):
        return None if sid is None else self.records[sid]["group"]

    @contextmanager
    def span(self, name: str, traced: bool = True):
        sid = len(self.records)
        parent = self._stack[-1] if self._stack else None
        traced = traced and (parent is None or self.records[parent]["traced"])
        own = traced and self.set_group is not None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "traced": traced,
            "group": f"{self.run_id}/{sid}" if own else self._group_of(parent),
            "start": time.time(),
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(sid)
        if own:
            self.set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if own:
                self.set_group(self._group_of(parent))


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(records: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part its child spans cover."""
    children: dict[int, list] = {}
    for r in records:
        if r["parent"] is not None:
            children.setdefault(r["parent"], []).append((r["start"], r["end"]))
    return {
        r["id"]: (r["end"] - r["start"])
        - union_length(children.get(r["id"], []), r["start"], r["end"])
        for r in records
    }


def parse_ui_time(s: str) -> float:
    """'2026-01-02T03:04:05.678GMT' -> epoch seconds."""
    return (
        datetime.strptime(s.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def parse_metric(value: str) -> float:
    """A Spark UI SQL-metric string -> number in base units.

    Accepts '10,000', '224.0 B', '9 ms', and the per-task form
    'total (min, med, max (stageId: taskId))\\n9.0 s (2.2 s, ...)'."""
    line = value.strip().split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    num = float(parts[0].replace(",", ""))
    return num * _UNITS[parts[1]] if len(parts) > 1 else num


def fetch_status(base_url: str) -> tuple[list, list, list]:
    """(jobs, stages, sql executions) of the single running app."""

    def get(path):
        with urllib.request.urlopen(f"{base_url}/api/v1/{path}", timeout=60) as r:
            return json.load(r)

    app = get("applications")[0]["id"]
    return (
        get(f"applications/{app}/jobs"),
        get(f"applications/{app}/stages"),
        get(
            f"applications/{app}/sql?details=true&planDescription=false"
            "&offset=0&length=1000000"
        ),
    )


def attribute(records, jobs, stages, executions, untraced=()):
    """Sum Spark's counters per span.

    Jobs are matched to spans by job group; each executed stage counts
    once, for the first job that lists it; SQL-node Python metrics go
    to the span of the execution's first job. Jobs without a group are
    allowed only inside one of the ``untraced`` (start, end) intervals.
    Returns ({span id: counters}, [problems]); a problem is a job or
    stage that could not be attributed or is missing from the status
    store."""
    by_group = {r["group"]: r["id"] for r in records if r["group"]}
    spans = {r["id"]: r for r in records}
    per = {r["id"]: dict.fromkeys(COUNTERS, 0) for r in records}
    problems: list[str] = []
    job_ids = {j["jobId"] for j in jobs}
    if job_ids and job_ids != set(range(max(job_ids) + 1)):
        problems.append(
            f"{max(job_ids) + 1 - len(job_ids)} jobs missing from the status store"
        )
    stage_ids = {s["stageId"] for s in stages}
    span_of_job: dict[int, int] = {}
    owner: dict[int, int] = {}
    intervals: dict[int, list] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for st in j["stageIds"]:
            owner.setdefault(st, j["jobId"])
            if st not in stage_ids:
                problems.append(f"stage {st} of job {j['jobId']} missing")
        sid = by_group.get(j.get("jobGroup"))
        if sid is None:
            t = parse_ui_time(j["submissionTime"])
            if j.get("jobGroup") is None and any(s <= t <= e for s, e in untraced):
                continue
            problems.append(
                f"job {j['jobId']} ({j.get('jobGroup')}) not attributed to a span"
            )
            continue
        span_of_job[j["jobId"]] = sid
        c = per[sid]
        c["jobs"] += 1
        end = j.get("completionTime")
        intervals.setdefault(sid, []).append(
            (
                parse_ui_time(j["submissionTime"]),
                parse_ui_time(end) if end else spans[sid]["end"],
            )
        )
    for s in stages:
        if s["status"] in ("SKIPPED", "PENDING"):
            continue
        sid = span_of_job.get(owner.get(s["stageId"]))
        if sid is None:
            continue
        c = per[sid]
        c["stages"] += 1
        c["tasks"] += s["numTasks"]
        c["failed_tasks"] += s["numFailedTasks"]
        c["executor_run_s"] += s["executorRunTime"] / 1e3
        c["executor_cpu_s"] += s["executorCpuTime"] / 1e9
        c["gc_s"] += s["jvmGcTime"] / 1e3
        c["input_bytes"] += s["inputBytes"]
        c["input_records"] += s["inputRecords"]
        c["bytes_written"] += s["outputBytes"]
        c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        c["shuffle_read_bytes"] += s["shuffleReadBytes"]
        c["shuffle_fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
        c["spill_bytes"] += s["diskBytesSpilled"]
        c["max_stage_shuffle_write_bytes"] = max(
            c["max_stage_shuffle_write_bytes"], s["shuffleWriteBytes"]
        )
    for e in executions:
        ids = sorted(
            e.get("successJobIds", []) + e.get("failedJobIds", [])
            + e.get("runningJobIds", [])
        )
        sid = next((span_of_job[i] for i in ids if i in span_of_job), None)
        if sid is None:
            continue
        c = per[sid]
        for node in e.get("nodes", []):
            names = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if not any(n in PYTHON_NODE_METRICS for n in names):
                continue
            for name, value in names.items():
                key = PYTHON_NODE_METRICS.get(name)
                if key:
                    c[key] += parse_metric(value)
            if "number of output rows" in names:
                c["python_rows"] += parse_metric(names["number of output rows"])
    for sid, r in spans.items():
        per[sid]["driver_s"] = (r["end"] - r["start"]) - union_length(
            intervals.get(sid, []), r["start"], r["end"]
        )
    return per, problems

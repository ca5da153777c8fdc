"""Spans around public calls, and Spark stage metrics per span.

A span is ``(name, start, end, parent, run_id)``. In a traced run each
span also owns a Spark job group, so the jobs and stages the status
REST API reports afterwards can be assigned to the call that caused
them. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc              # None: spans only, no job groups
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        rec = {"id": sid, "name": name, "parent": parent,
               "run_id": self.run_id, "group": f"{self.run_id}-{sid}"}
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name, False)
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(f"{self.run_id}-{stack[-1]}",
                                        "", False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)


def _ts(s: str | None) -> float:
    if not s:
        return 0.0
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


class StatusApi:
    """The few REST endpoints the attribution needs, fetched once."""

    def __init__(self, ui_url: str):
        self.base = ui_url.rstrip("/") + "/api/v1/applications"
        self.app = self._get("")[0]["id"]
        self.base += "/" + self.app
        self.jobs = self._get("/jobs")
        self.stages = {
            s["stageId"]: s
            for s in self._get("/stages?status=complete")
            if s.get("attemptId", 0) == 0
        }
        self.sql = self._get(
            "/sql?details=true&planDescription=false&length=1000000")
        self._tasks: dict = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read())

    def tasks(self, stage_id: int) -> list:
        if stage_id not in self._tasks:
            self._tasks[stage_id] = self._get(
                f"/stages/{stage_id}/0/taskList?length=1000000")
        return self._tasks[stage_id]

    def jobs_in(self, groups: set) -> list:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def stages_in(self, groups: set) -> list:
        ids = {sid for j in self.jobs_in(groups) for sid in j["stageIds"]}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def sql_in(self, groups: set) -> list:
        jobs = {j["jobId"] for j in self.jobs_in(groups)}
        return [e for e in self.sql
                if jobs & set(e.get("successJobIds", []))]


def stage_end(stage: dict) -> float:
    return _ts(stage.get("completionTime"))


def job_start(job: dict) -> float:
    return _ts(job.get("submissionTime"))


def node_metric(node: dict, name: str) -> float:
    for m in node.get("metrics", []):
        if m.get("name") == name:
            # values render like "1,234" or "total (min, med, max)\n..."
            head = str(m.get("value", "0")).split("\n")[0]
            try:
                return float(head.replace(",", "").split()[0])
            except (ValueError, IndexError):
                return 0.0
    return 0.0


def task_times(api: StatusApi, stage: dict) -> list:
    return [t["taskMetrics"]["executorRunTime"] / 1000.0
            for t in api.tasks(stage["stageId"])
            if t.get("status") == "SUCCESS" and "taskMetrics" in t]


def skew(times: list) -> float:
    if not times:
        return 0.0
    med = statistics.median(times)
    return max(times) / med if med > 0 else 0.0

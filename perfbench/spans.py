"""Benchmark-side tracing: one Spark job group per layer span, Spark
counts per span, and a process-tree RSS sampler.

Spans are recorded from the benchmark's own files around the calls
into each layer; the program itself is not instrumented.  Each span
(name, start, end, parent, workload, op) is kept in memory and written
out once the run ends.  Job, stage and task counts come from the
Spark status tracker; stage metrics (shuffle write, spill, executor
run time, GC time) and job durations come from the local monitoring
REST API of the traced session's UI.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.op: object = None  # operation tag carried by every span

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.workload}/{self.op}/{idx}/{name}"
        rec = {"name": name, "parent": parent, "workload": self.workload,
               "op": self.op, "group": group}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                prev = self.spans[self._stack[-1]]
                self.sc.setJobGroup(prev["group"], prev["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- attribution -------------------------------------------------------

    def collect(self, rest_url: Optional[str]) -> None:
        """Attach Spark counts and stage metrics to every span.  A stage
        belongs to the first job that lists it (later jobs list reused
        shuffle stages as skipped)."""
        self._drain_listener()
        st = self.sc.statusTracker()
        rest_jobs, rest_stages = _rest_snapshot(rest_url, self.sc.applicationId)
        owner: Dict[int, int] = {}
        job_stages: Dict[int, List[int]] = {}
        for rec in self.spans:
            rec["jobs"] = sorted(st.getJobIdsForGroup(rec["group"]))
            for j in rec["jobs"]:
                info = st.getJobInfo(j)
                job_stages[j] = list(info.stageIds) if info else []
                for sid in job_stages[j]:
                    owner[sid] = min(owner.get(sid, j), j)
        for rec in self.spans:
            stages = sorted({s for j in rec["jobs"] for s in job_stages[j] if owner[s] == j})
            m = {"jobs": len(rec["jobs"]), "stages": 0, "tasks": 0, "failed_tasks": 0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0, "executor_run_s": 0.0,
                 "gc_s": 0.0, "job_s": 0.0}
            for sid in stages:
                info = st.getStageInfo(sid)
                if info is None or info.numCompletedTasks == 0:
                    continue  # skipped: its work ran under another job
                m["stages"] += 1
                m["tasks"] += info.numCompletedTasks
                m["failed_tasks"] += info.numFailedTasks
                for sd in rest_stages.get(sid, []):
                    m["shuffle_write_mb"] += sd.get("shuffleWriteBytes", 0) / 1e6
                    m["spill_mb"] += (sd.get("memoryBytesSpilled", 0)
                                      + sd.get("diskBytesSpilled", 0)) / 1e6
                    m["executor_run_s"] += sd.get("executorRunTime", 0) / 1e3
                    m["gc_s"] += sd.get("jvmGcTime", 0) / 1e3
            for j in rec["jobs"]:
                m["job_s"] += rest_jobs.get(j, 0.0)
            rec["spark"] = m

    def _drain_listener(self) -> None:
        """Wait until the status store has seen every finished job."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # the private hook may move between releases
            time.sleep(1.0)

    # -- derived figures ---------------------------------------------------

    def self_s(self, idx: int) -> float:
        rec = self.spans[idx]
        kids = [s for s in self.spans if s["parent"] == idx]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _rest_snapshot(rest_url: Optional[str], app_id: str):
    """→ ({job id: duration s}, {stage id: [attempt dicts]}) from the
    session's own UI on localhost; empty when the UI is off."""
    if not rest_url:
        return {}, {}
    base = f"{rest_url}/api/v1/applications/{app_id}"
    jobs = {}
    for j in _get_json(f"{base}/jobs"):
        sub, done = j.get("submissionTime"), j.get("completionTime")
        if sub and done:
            jobs[j["jobId"]] = (_ts(done) - _ts(sub))
    stages: Dict[int, list] = {}
    for s in _get_json(f"{base}/stages"):
        stages.setdefault(s["stageId"], []).append(s)
    return jobs, stages


def _ts(stamp: str) -> float:
    """Spark REST timestamp '2026-01-01T00:00:00.123GMT' → seconds."""
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def process_tree() -> List[int]:
    """This process and all its descendants."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers it forks), sampled from /proc.
    Each process counts its proportional set size (Pss), so pages the
    Python worker daemon shares with its forked workers count once."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

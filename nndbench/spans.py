"""Spans around the public calls and their attribution to Spark's own
counters.

Every public call the benchmark makes runs inside a :class:`Tracer`
span. A span always records wall time, the process tree's CPU split and
host steal. In a traced run it also sets a Spark job group named after
the span, so the event log ties every job, stage and task to the call
that caused it; :func:`read_event_log` then sums Spark's task metrics
and Python-worker SQL metrics per span. Inside a call, jobs whose Python
call site lies in a given module (``first at .../schemas.py:NN``) split
the call's jobs by module; most jobs (checkpoints, writes) carry no
Python call site, which is why the job group is the primary key.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

from procstat import Monitor

MB = 1e6

# Spark 4.1 Python-worker SQL metrics (ms and bytes)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Span:
    def __init__(self, name: str, seq: int):
        self.name = name
        self.t0 = 0.0
        self.group = f"{name}#{seq}"
        self.groups = [self.group]
        self.wall = self.cpu = self.steal = 0.0
        self.marks: list[tuple[float, int]] = []  # (seconds since start, value)


class Tracer:
    """Opens spans; sets job groups only when ``traced``."""

    def __init__(self, spark, monitor: Monitor, traced: bool):
        self.spark = spark
        self.monitor = monitor
        self.traced = traced
        self.spans: list[Span] = []
        self.current: Span | None = None

    def _set_group(self, group: str | None, name: str = "") -> None:
        if not self.traced:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, name)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(name, len(self.spans))
        self.spans.append(sp)
        self._set_group(sp.group, name)
        before = self.monitor.read()
        sp.t0 = time.perf_counter()
        self.current = sp
        try:
            yield sp
        finally:
            after = self.monitor.read()
            self._set_group(None)
            self.current = None
            sp.wall = after.t - sp.t0
            sp.cpu = after.cpu - before.cpu
            sp.steal = after.steal - before.steal

    def mark(self, value: int) -> None:
        """A progress point inside the open span (one NN-Descent
        iteration). In a traced run the jobs after it go to a fresh
        sub-group, so the event log splits the call per iteration too."""
        sp = self.current
        sp.marks.append((time.perf_counter() - sp.t0, int(value)))
        sub = f"{sp.group}@{len(sp.marks)}"
        sp.groups.append(sub)
        self._set_group(sub, sp.name)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def spark_conf(log_dir: str) -> dict[str, str]:
    """Session settings that turn Spark's event log on, uncompressed and
    in one file, so the run can read it back without extra codecs."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class GroupStats:
    """Spark's counters summed over the jobs of one or more groups."""

    def __init__(self) -> None:
        self.jobs = 0
        self.stages = 0
        self.job_s = 0.0
        self.shuffle_write = 0
        self.shuffle_read = 0
        self.max_stage_shuffle = 0
        self.gc_ms = 0
        self.cpu_ns = 0
        self.spill = 0
        self.written = 0
        self.py_run_ms = 0
        self.py_sent = 0
        self.py_returned = 0

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "max_stage_shuffle":
                self.max_stage_shuffle = max(self.max_stage_shuffle, v)
            else:
                setattr(self, k, getattr(self, k) + v)


class EventLog:
    """Per-job and per-stage counters read from one application's event
    log; queried by job group and by call-site module."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stage = defaultdict(GroupStats)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "site": props.get("callSite.short") or "",
                        "start": e["Submission Time"],
                        "end": e["Submission Time"],
                        "stages": set(),
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in self.jobs:
                        self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        self.jobs[stage_job[sid]]["stages"].add(sid)
                elif ev == "SparkListenerTaskEnd":
                    _add_task(stage[e["Stage ID"]], e)
        self.stage = stage

    def stats(
        self, groups, site_module: str | None = None, before_first_site: bool = False
    ) -> GroupStats:
        """Counters of every job in ``groups``; with ``site_module``, only
        the jobs whose Python call site is in that file; with
        ``before_first_site``, only the jobs submitted before the first
        job that carries any Python call site."""
        groups = set(groups)
        out = GroupStats()
        for jid in sorted(self.jobs):
            job = self.jobs[jid]
            if job["group"] not in groups:
                continue
            if before_first_site and job["site"]:
                break
            if site_module is not None and f"/{site_module}:" not in job["site"]:
                continue
            out.jobs += 1
            out.stages += len(job["stages"])
            out.job_s += (job["end"] - job["start"]) / 1000.0
            for sid in job["stages"]:
                st = self.stage.get(sid)
                if st is not None:
                    out.add(st)
                    out.max_stage_shuffle = max(out.max_stage_shuffle, st.shuffle_write)
        return out


def _add_task(st: GroupStats, e: dict) -> None:
    m = e.get("Task Metrics")
    if m:
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.spill += m.get("Disk Bytes Spilled", 0)
        st.written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == PY_RUN:
            st.py_run_ms += int(acc.get("Update", 0))
        elif name == PY_SENT:
            st.py_sent += int(acc.get("Update", 0))
        elif name == PY_RETURNED:
            st.py_returned += int(acc.get("Update", 0))


def find_log(log_dir: str) -> str:
    logs = [
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.startswith(".") and not n.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]

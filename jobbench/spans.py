"""Spans recorded from outside the engine, and the Spark event-log join.

``Tracer.install`` wraps the engine's layer entry points and the DataFrame
actions the jobs run. Each span keeps (name, start, end, parent) in memory.
While a span is open the driver thread's ``spark.jobGroup.id`` names it, so
every Spark job in the event log can be joined back to the span that ran it.
Nothing here imports ``tools/``; the event-log parser is this file's own.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
DESC_PROP = "spark.job.description"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float | None = None
    desc: str | None = None  # job description open when an action started
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []

    # -- spans --------------------------------------------------------------
    def open(self, name: str, **attrs) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        s.attrs["prev_group"] = self.sc.getLocalProperty(GROUP_PROP)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setLocalProperty(GROUP_PROP, f"jb{s.sid}")
        return s

    def close(self, span: Span) -> None:
        while self.stack:
            top = self.stack.pop()
            top.end = time.time()
            self.sc.setLocalProperty(GROUP_PROP, top.attrs.pop("prev_group"))
            if top is span:
                return

    def top(self) -> Span | None:
        return self.stack[-1] if self.stack else None

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrappers -----------------------------------------------------------
    @staticmethod
    def _patch(owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def wrap(self, owner, attr: str, name: str) -> None:
        tracer = self

        def make(orig):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)

            return wrapper

        self._patch(owner, attr, make)

    def wrap_action(self, owner, attr: str) -> None:
        """An action span is a child of the innermost open span; nested
        actions (toPandas calling collect) stay inside the outer one."""
        tracer = self

        def make(orig):
            def wrapper(*a, **kw):
                top = tracer.top()
                if top is not None and top.name == "action":
                    return orig(*a, **kw)
                s = tracer.open("action", kind=attr)
                s.desc = tracer.sc.getLocalProperty(DESC_PROP)
                try:
                    return orig(*a, **kw)
                finally:
                    tracer.close(s)

            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        """Spans around every layer call the two jobs make."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from preprocessor_spark.operators import normalizer, splitter, unbiaser
        from preprocessor_spark.plans import refresh_job, rollup_job
        from preprocessor_spark.rollup import checkpoint, compression, incremental

        for attr in ("collect", "count", "toPandas"):
            self.wrap_action(DataFrame, attr)
        for attr in ("parquet", "save"):
            self.wrap_action(DataFrameWriter, attr)
        self.wrap(splitter.TemporalSplitter, "fit_time_boundaries",
                  "operators.splitter.fit")
        self.wrap(normalizer.Normalizer, "fit", "operators.normalizer.fit")
        self.wrap(unbiaser.Unbiaser, "transform", "operators.unbiaser.plan")
        self.wrap(checkpoint, "run_resumable_observed", "rollup.tiers.tier0")
        self.wrap(checkpoint, "run_resumable_observed_tiers", "rollup.tiers.coarse")
        self.wrap(compression, "encode_tier_blocks", "rollup.compression.plan")
        self.wrap(incremental.IncrementalRollup, "_refresh_fused",
                  "rollup.incremental.merge")
        self.wrap(rollup_job, "main", "plans.rollup_job")
        self._install_refresh_phases(refresh_job, checkpoint, incremental)

    def _install_refresh_phases(self, refresh_job, checkpoint, incremental) -> None:
        """refresh_job.main runs its phases inline, so they are cut at the
        calls that separate them: the guard ends at the ``started`` manifest
        mark, the continuation at ``IncrementalRollup.refresh``, and the
        block re-encode runs from that call's return to the job's end."""
        tracer = self

        def main(orig):
            def wrapper(*a, **kw):
                root = tracer.open("plans.refresh_job")
                tracer.open("plans.refresh_job.guard")
                try:
                    return orig(*a, **kw)
                finally:
                    tracer.close(root)

            return wrapper

        def mark(orig):
            def wrapper(manifest, stage, *a, **kw):
                top = tracer.top()
                if stage == "refresh_delta_started" and top and top.name == "plans.refresh_job.guard":
                    tracer.close(top)
                    tracer.open("operators.continuation")
                return orig(manifest, stage, *a, **kw)

            return wrapper

        def refresh(orig):
            def wrapper(*a, **kw):
                top = tracer.top()
                if top and top.name == "operators.continuation":
                    tracer.close(top)
                with tracer.span("rollup.incremental.refresh"):
                    out = orig(*a, **kw)
                if tracer.top() and tracer.top().name == "plans.refresh_job":
                    tracer.open("rollup.compression.reencode")
                return out

            return wrapper

        self._patch(refresh_job, "main", main)
        self._patch(checkpoint.Manifest, "mark", mark)
        self._patch(incremental.IncrementalRollup, "refresh", refresh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Job:
    job_id: int
    group: str | None
    desc: str | None
    start: float = 0.0
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task metrics from the (uncompressed) event log that
    ``spark.eventLog.dir`` points at, rolled into ``eventlog_v2_*/events_*``
    files or not."""
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith(("appstatus", ".")))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get(GROUP_PROP), props.get(DESC_PROP),
                            start=ev["Submission Time"] / 1000.0,
                            stages=list(ev.get("Stage IDs", [])))
                    jobs[j.job_id] = j
                    for sid in j.stages:
                        stage_job[sid] = j.job_id
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    jobs[jid].tasks.append({
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "finish": info.get("Finish Time", 0) / 1000.0,
                        "retry": int(info.get("Attempt", 0) > 0 or info.get("Failed", False)),
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                    })
    return sorted(jobs.values(), key=lambda j: j.job_id)


def phase_costs(jobs: list[Job]) -> dict[str, float]:
    """Cost classes of a set of jobs: executor CPU, GC, shuffle bytes and
    fetch wait summed over tasks; ``sched_gap_s`` is the part of each job's
    wall during which none of its tasks ran (scheduling and commit)."""
    out = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0, "fetch_wait_s": 0.0,
           "sched_gap_s": 0.0, "tasks": 0.0}
    for j in jobs:
        for t in j.tasks:
            for k in ("cpu_s", "gc_s", "shuffle_bytes", "fetch_wait_s"):
                out[k] += t[k]
        out["tasks"] += len(j.tasks)
        busy = _union_length([(t["launch"], t["finish"]) for t in j.tasks])
        out["sched_gap_s"] += max(0.0, (j.end - j.start) - busy)
    return out


def idle_between_jobs(span: Span, jobs: list[Job]) -> float:
    """Wall of ``span`` during which no Spark job was running."""
    ivs = [(max(j.start, span.start), min(j.end, span.end)) for j in jobs
           if j.end > span.start and j.start < span.end]
    return max(0.0, span.wall - _union_length(ivs))

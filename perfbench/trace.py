"""Spans around calls into the engine, and Spark event-log attribution.

The benchmark records one span per call into a layer's public function,
timed from outside. In a traced run each span also tags its thread's
Spark jobs with a job group; jobs that the engine submits from its own
worker threads (``functions.concurrency.run_concurrent``) lose that tag,
so an untagged job is attributed to the span whose interval holds its
submission time. Spans never overlap: the benchmark is a single closed
loop, so at most one span is open at any time.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
RECONCILE_TOLERANCE = 0.10

STAGE_METRICS = {
    # event-log accumulable name -> (span metric, scale)
    "internal.metrics.executorRunTime": ("executor_run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("executor_cpu_ms", 1e-6),
    "time to run Python workers": ("python_worker_ms", 1.0),
    "data sent to Python workers": ("python_io_mb", 1e-6),
    "data returned from Python workers": ("python_io_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.input.recordsRead": ("scan_rows", 1.0),
    "internal.metrics.output.bytesWritten": ("output_mb", 1e-6),
}
SPAN_METRICS = ("wall_ms", "driver_ms", "jobs", "stages", "tasks",
                "executor_run_ms", "executor_cpu_ms", "python_worker_ms",
                "python_io_mb", "shuffle_write_mb", "scan_rows", "output_mb")


@dataclass
class Span:
    id: str
    name: str
    start_ms: float
    end_ms: float
    counts: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records spans. With ``spark_context`` set (traced runs), each span
    sets the calling thread's job group for its duration."""

    def __init__(self, spark_context=None) -> None:
        self.sc = spark_context
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, **counts) -> Iterator[dict]:
        sid = f"{GROUP_PREFIX}{len(self.spans)}"
        if self.sc is not None:
            self.sc.setJobGroup(sid, name)
        start = time.time() * 1000.0
        try:
            yield counts
        finally:
            end = time.time() * 1000.0
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(sid, name, start, end, counts))


# ------------------------------------------------------------ event log

@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: float
    end_ms: float
    stage_ids: list[int]


@dataclass
class Stage:
    id: int
    tasks: int
    submit_ms: float
    metrics: dict


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]  # completed stages only (skipped ones never run)


def parse_event_log(lines: Iterable[str]) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                float(e["Submission Time"]), float("nan"),
                list(e.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = float(e["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            m: dict[str, float] = {}
            for acc in info.get("Accumulables") or []:
                spec = STAGE_METRICS.get(acc.get("Name"))
                if spec is None:
                    continue
                name, scale = spec
                m[name] = m.get(name, 0.0) + float(acc.get("Value") or 0) * scale
            sid = info["Stage ID"]
            prev = stages.get(sid)
            if prev is not None:  # a retried attempt adds to the first
                for k, v in prev.metrics.items():
                    m[k] = m.get(k, 0.0) + v
            stages[sid] = Stage(
                sid, int(info.get("Number of Tasks") or 0)
                + (prev.tasks if prev else 0),
                float(info.get("Submission Time") or 0.0), m,
            )
    return EventLog(jobs, stages)


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return parse_event_log(f)


def attribute(log: EventLog, spans: list[Span]) -> dict[str, list[Job]]:
    """span id -> its jobs: by job group when the job carries a span's
    group, else by the span whose interval holds the submission time.
    Jobs outside every span (oracle work, session housekeeping) drop."""
    by_id = {s.id: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start_ms)
    out: dict[str, list[Job]] = {s.id: [] for s in spans}
    for job in sorted(log.jobs.values(), key=lambda j: j.id):
        if job.group in by_id:
            out[job.group].append(job)
            continue
        for s in ordered:
            if s.start_ms <= job.submit_ms < s.end_ms:
                out[s.id].append(job)
                break
    return out


def union_ms(intervals: Iterable[tuple[float, float]]) -> float:
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


def _stage_owner(log: EventLog) -> dict[int, int]:
    """stage id -> the job that ran it: a shuffle stage listed by several
    jobs runs in the latest one submitted at or before the stage."""
    owner: dict[int, int] = {}
    for sid, st in log.stages.items():
        cands = [j for j in log.jobs.values()
                 if sid in j.stage_ids and j.submit_ms <= st.submit_ms]
        if not cands:
            cands = [j for j in log.jobs.values() if sid in j.stage_ids]
        if cands:
            owner[sid] = max(cands, key=lambda j: j.submit_ms).id
    return owner


@dataclass
class SpanProfile:
    span: Span
    metrics: dict
    reconcile: float  # (job union + driver gaps) / wall


def profile(log: EventLog, spans: list[Span]) -> list[SpanProfile]:
    """Per-span layer metrics from the event log (totals, not per call)."""
    owner = _stage_owner(log)
    stages_of: dict[int, list[Stage]] = {}
    for sid, jid in owner.items():
        stages_of.setdefault(jid, []).append(log.stages[sid])
    jobs_of = attribute(log, spans)
    out = []
    for s in spans:
        jobs = jobs_of[s.id]
        ivs = [(j.submit_ms, j.end_ms if j.end_ms == j.end_ms else s.end_ms)
               for j in jobs]
        clipped = [(max(lo, s.start_ms), min(hi, s.end_ms)) for lo, hi in ivs]
        in_span = union_ms((lo, hi) for lo, hi in clipped if hi > lo)
        m = dict.fromkeys(SPAN_METRICS, 0.0)
        m["wall_ms"] = s.wall_ms
        m["driver_ms"] = s.wall_ms - in_span
        m["jobs"] = float(len(jobs))
        for j in jobs:
            for st in stages_of.get(j.id, ()):
                m["stages"] += 1
                m["tasks"] += st.tasks
                for k, v in st.metrics.items():
                    m[k] += v
        wall = s.wall_ms
        rec = (union_ms(ivs) + m["driver_ms"]) / wall if wall > 0 else 1.0
        out.append(SpanProfile(s, m, rec))
    return out


def reconcile_failures(profiles: list[SpanProfile],
                       tol: float = RECONCILE_TOLERANCE) -> list[SpanProfile]:
    return [p for p in profiles if abs(p.reconcile - 1.0) > tol]


def per_call(profiles: list[SpanProfile], names: Iterable[str]) -> dict:
    """``<span name>.<metric>`` -> mean per call over the run's calls
    (0 for a function the run never called)."""
    out = {}
    for name in names:
        mine = [p for p in profiles if p.span.name == name]
        for k in SPAN_METRICS:
            out[f"{name}.{k}"] = (
                sum(p.metrics[k] for p in mine) / len(mine) if mine else 0.0
            )
    return out

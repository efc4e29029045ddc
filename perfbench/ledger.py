"""Pure metric code of the benchmark: percentiles, spans, and the fold of a
Spark event log into per-layer numbers.

Nothing here touches Spark; ``run.py`` feeds it wall-clock records of the
query executions it timed and the JSON lines of the session's event log.
All times are epoch milliseconds unless a name says otherwise.
"""

from __future__ import annotations

import bisect
import json
import math
import statistics
from dataclasses import dataclass, field
from typing import Iterable

# Candidate tail percentiles, highest first. A fixed ladder keeps the
# reported percentile the same from run to run when the number of
# executions only wobbles.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10

MB = 1024 * 1024

# Spark 4.1 SQL metrics of the Python evaluation operators, as they
# appear by name among a task's accumulables (times in ms).
PYWORKER_ACCUMS = {
    "time to run Python workers": "pyworker.run_ms",
    "time to start Python workers": "pyworker.boot_ms",
    "time to initialize Python workers": "pyworker.boot_ms",
    "data sent to Python workers": "pyworker.sent_bytes",
    "data returned from Python workers": "pyworker.returned_bytes",
}

PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
# Micro-batch phases that are offset/commit protocol rather than work.
PROTOCOL_PHASES = ("getBatch", "latestOffset", "walCommit", "commitOffsets")


def nearest_rank(values: list[float], p: float) -> float:
    """The ``p``-th percentile by the nearest-rank rule."""
    ordered = sorted(values)
    k = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[k - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``TAIL_MIN_BEYOND`` of ``n``
    executions ranked beyond it, or None when ``n`` is too small."""
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100 * n) >= TAIL_MIN_BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the tail rule; with fewer than twenty
    executions no percentile qualifies and the slowest one (percentile
    100) stands in."""
    p = tail_percentile(len(values)) or 100.0
    return p, nearest_rank(values, p)


@dataclass
class Execution:
    """One timed query execution, as the benchmark's own clock saw it."""

    id: str
    name: str
    pass_no: int
    start: float
    build_end: float
    end: float
    catalyst_ms: float = 0.0
    error: str | None = None

    @property
    def build_ms(self) -> float:
        return self.build_end - self.start

    @property
    def action_ms(self) -> float:
        return self.end - self.build_end


@dataclass
class Pass:
    no: int
    start: float
    end: float
    clear_ms: float
    probe_ms: float = 0.0  # the traced run's cache probes between calls


@dataclass
class Span:
    name: str
    cat: str
    start: float
    end: float
    parent: int | None
    exec_id: str | None = None
    id: int = -1


def accounted_frac(passes: list[Pass], execs: list[Execution]) -> float:
    """Share of pass wall time covered by build, action, cache clear and
    the tracer's own probes."""
    wall = sum(p.end - p.start for p in passes)
    covered = sum(p.clear_ms + p.probe_ms for p in passes) + sum(e.end - e.start for e in execs)
    return covered / wall if wall > 0 else 0.0


def accounts_for_pass(passes: list[Pass], execs: list[Execution], tol: float = 0.10) -> bool:
    """True when build + action + clear is within ``tol`` of pass wall time."""
    return abs(accounted_frac(passes, execs) - 1.0) <= tol


class ExecIndex:
    """Maps a point in time to the execution (and phase) running then."""

    def __init__(self, execs: list[Execution]) -> None:
        self.execs = sorted(execs, key=lambda e: e.start)
        self.starts = [e.start for e in self.execs]

    def at(self, t: float) -> tuple[Execution | None, str]:
        i = bisect.bisect_right(self.starts, t) - 1
        if i < 0:
            return None, ""
        e = self.execs[i]
        if t > e.end:
            return None, ""
        return e, ("build" if t < e.build_end else "action")


@dataclass
class Fold:
    """Per-layer totals over the executions of the traced passes."""

    counters: dict[str, float] = field(default_factory=dict)
    jobs: list[Span] = field(default_factory=list)
    stages: list[Span] = field(default_factory=list)
    batches: list[Span] = field(default_factory=list)
    trigger_ms: list[float] = field(default_factory=list)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def peak(self, key: str, value: float) -> None:
        self.counters[key] = max(self.counters.get(key, 0.0), value)


def _iso_ms(ts: str) -> float:
    """Epoch ms of a progress timestamp like ``2026-01-01T00:00:00.123Z``."""
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def fold_event_log(lines: Iterable[str], execs: list[Execution]) -> Fold:
    """Fold event-log JSON lines into layer counters for ``execs``.

    Events are attributed by time, not job group: a job belongs to the
    execution running when it was submitted, so micro-batch jobs (whose
    group is the stream's runId) land on the registry query that drove
    the stream. Jobs submitted before an execution's function returned
    are eager (``plan.eager_jobs``); stages and tasks follow their job.
    """
    index = ExecIndex(execs)
    out = Fold()
    stage_owner: dict[int, tuple[Execution, int]] = {}
    job_span: dict[int, int] = {}
    open_jobs: dict[int, tuple[Execution, float]] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0)
            e, phase = index.at(t)
            if e is None:
                continue
            jid = ev["Job ID"]
            open_jobs[jid] = (e, t)
            for sid in ev.get("Stage IDs", []):
                stage_owner[sid] = (e, jid)
            out.add("sched.jobs", 1)
            if phase == "build":
                out.add("plan.eager_jobs", 1)
        elif kind == "SparkListenerJobEnd":
            opened = open_jobs.pop(ev["Job ID"], None)
            if opened is None:
                continue
            e, t = opened
            end = ev.get("Completion Time", t)
            out.add("sched.job_ms", end - t)
            job_span[ev["Job ID"]] = len(out.jobs)
            out.jobs.append(Span(f"job {ev['Job ID']}", "job", t, end, None, e.id))
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            owner = stage_owner.get(info.get("Stage ID"))
            if owner is None:
                continue
            e, jid = owner
            out.add("sched.stages", 1)
            start = info.get("Submission Time", 0)
            end = info.get("Completion Time", start)
            out.stages.append(
                Span(f"stage {info.get('Stage ID')}", "stage", start, end, jid, e.id)
            )
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev.get("Stage ID"))
            if owner is None:
                continue
            _fold_task(out, ev)
        elif kind == PROGRESS_EVENT:
            _fold_progress(out, index, ev.get("progress") or {})
    # Link stage spans to their job spans now that every job has ended.
    for s in out.stages:
        s.parent = job_span.get(s.parent)
    return out


def _fold_task(out: Fold, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    out.add("sched.tasks", 1)
    if info.get("Failed") or info.get("Killed"):
        out.add("sched.failed_tasks", 1)
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    ser = m.get("Result Serialization Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    out.add("sched.delay_ms", max(0, duration - run - deser - ser - info.get("Getting Result Time", 0)))
    out.add("exec.run_ms", run)
    out.add("exec.cpu_ns", m.get("Executor CPU Time", 0))
    out.add("exec.deser_ms", deser)
    out.add("exec.gc_ms", m.get("JVM GC Time", 0))
    sread = m.get("Shuffle Read Metrics") or {}
    out.add("exec.fetch_wait_ms", sread.get("Fetch Wait Time", 0))
    out.add("exec.shuffle_read_bytes", sread.get("Remote Bytes Read", 0) + sread.get("Local Bytes Read", 0))
    out.add("exec.shuffle_write_bytes", (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    out.add("exec.input_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0))
    out.add("exec.spill_bytes", m.get("Disk Bytes Spilled", 0))
    for acc in info.get("Accumulables") or []:
        key = PYWORKER_ACCUMS.get(acc.get("Name"))
        if key is not None:
            try:
                out.add(key, float(acc.get("Update", 0)))
            except (TypeError, ValueError):
                pass


def _fold_progress(out: Fold, index: ExecIndex, progress: dict) -> None:
    ts = progress.get("timestamp")
    if not ts:
        return
    start = _iso_ms(ts)
    e, _ = index.at(start)
    if e is None:
        return
    d = progress.get("durationMs") or {}
    trigger = d.get("triggerExecution", 0)
    out.add("stream.batches", 1)
    out.trigger_ms.append(trigger)
    out.add("stream.addbatch_ms", d.get("addBatch", 0))
    out.add("stream.protocol_ms", sum(d.get(k, 0) for k in PROTOCOL_PHASES))
    out.add("stream.planning_ms", d.get("queryPlanning", 0))
    for op in progress.get("stateOperators") or []:
        out.add("stream.state_commit_ms", op.get("commitTimeMs", 0))
        out.peak("stream.state_rows_peak", op.get("numRowsTotal", 0))
    out.batches.append(
        Span(f"batch {progress.get('batchId')}", "batch", start, start + trigger, None, e.id)
    )


def layer_metrics(fold: Fold, execs: list[Execution], n_passes: int) -> dict[str, float]:
    """Per-pass layer numbers from a fold (counts and times per pass)."""
    c = fold.counters
    n = max(1, n_passes)

    def per(key: str, scale: float = 1.0) -> float:
        return c.get(key, 0.0) * scale / n

    build_s = sum(e.build_ms for e in execs) / 1000 / n
    action_s = sum(e.action_ms for e in execs) / 1000 / n
    jobs = c.get("sched.jobs", 0.0)
    return {
        "plan.build_s": build_s,
        "plan.eager_jobs": per("plan.eager_jobs"),
        "plan.eager_frac": build_s / (build_s + action_s) if build_s + action_s else 0.0,
        "catalyst.plan_ms": statistics.median([e.catalyst_ms for e in execs]) if execs else 0.0,
        "action_s": action_s,
        "sched.jobs": per("sched.jobs"),
        "sched.stages": per("sched.stages"),
        "sched.tasks": per("sched.tasks"),
        "sched.ms_per_job": c.get("sched.job_ms", 0.0) / jobs if jobs else 0.0,
        "sched.delay_ms": per("sched.delay_ms"),
        "sched.failed_tasks": per("sched.failed_tasks"),
        "exec.run_s": per("exec.run_ms", 1e-3),
        "exec.cpu_s": per("exec.cpu_ns", 1e-9),
        "exec.deser_ms": per("exec.deser_ms"),
        "exec.gc_ms": per("exec.gc_ms"),
        "exec.fetch_wait_ms": per("exec.fetch_wait_ms"),
        "exec.input_mb": per("exec.input_bytes", 1 / MB),
        "exec.shuffle_read_mb": per("exec.shuffle_read_bytes", 1 / MB),
        "exec.shuffle_write_mb": per("exec.shuffle_write_bytes", 1 / MB),
        "exec.spill_mb": per("exec.spill_bytes", 1 / MB),
        "pyworker.run_s": per("pyworker.run_ms", 1e-3),
        "pyworker.boot_s": per("pyworker.boot_ms", 1e-3),
        "pyworker.sent_mb": per("pyworker.sent_bytes", 1 / MB),
        "pyworker.returned_mb": per("pyworker.returned_bytes", 1 / MB),
        "stream.batches": per("stream.batches"),
        "stream.trigger_ms_p50": statistics.median(fold.trigger_ms) if fold.trigger_ms else 0.0,
        "stream.addbatch_s": per("stream.addbatch_ms", 1e-3),
        "stream.protocol_s": per("stream.protocol_ms", 1e-3),
        "stream.planning_s": per("stream.planning_ms", 1e-3),
        "stream.state_commit_s": per("stream.state_commit_ms", 1e-3),
        "stream.state_rows_peak": c.get("stream.state_rows_peak", 0.0),
    }


def build_spans(workload: str, passes: list[Pass], execs: list[Execution], fold: Fold) -> list[Span]:
    """The span tree: workload > pass > query > {build, catalyst, action} >
    [micro-batch] > job > stage."""
    spans: list[Span] = []

    def add(s: Span) -> int:
        s.id = len(spans)
        spans.append(s)
        return s.id

    root = add(Span(workload, "workload", passes[0].start, passes[-1].end, None))
    pass_ids = {p.no: add(Span(f"pass {p.no}", "pass", p.start, p.end, root)) for p in passes}
    phase_ids: dict[tuple[str, str], int] = {}
    for e in execs:
        q = add(Span(e.name, "query", e.start, e.end, pass_ids[e.pass_no], e.id))
        phase_ids[e.id, "build"] = add(Span("build", "build", e.start, e.build_end, q, e.id))
        action = add(Span("action", "action", e.build_end, e.end, q, e.id))
        phase_ids[e.id, "action"] = action
        if e.catalyst_ms:
            add(Span("catalyst", "catalyst", e.build_end, e.build_end + e.catalyst_ms, action, e.id))
    index = ExecIndex(execs)

    def phase_of(s: Span) -> int | None:
        e, phase = index.at(s.start)
        return phase_ids.get((e.id, phase)) if e else None

    batch_ids = []
    for b in fold.batches:
        batch_ids.append((b, add(Span(b.name, b.cat, b.start, b.end, phase_of(b), b.exec_id))))

    def parent_of(j: Span) -> int | None:
        for b, bid in batch_ids:
            if b.exec_id == j.exec_id and b.start <= j.start <= b.end:
                return bid
        return phase_of(j)

    job_ids = {i: add(Span(j.name, j.cat, j.start, j.end, parent_of(j), j.exec_id)) for i, j in enumerate(fold.jobs)}
    for s in fold.stages:
        parent = job_ids.get(s.parent) if s.parent is not None else None
        add(Span(s.name, s.cat, s.start, s.end, parent, s.exec_id))
    return spans


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times_s(spans: list[Span]) -> dict[str, float]:
    """Per span category: duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        covered = _union_ms([k for k in kids if k[1] > k[0]])
        out[s.cat] = out.get(s.cat, 0.0) + max(0.0, s.end - s.start - covered) / 1000
    return out


def chrome_trace(spans: list[Span]) -> list[dict]:
    """chrome://tracing complete events, one track per span category."""
    tracks = {}
    events = []
    for s in spans:
        tid = tracks.setdefault(s.cat, len(tracks))
        events.append(
            {
                "name": s.name,
                "cat": s.cat,
                "ph": "X",
                "ts": s.start * 1000,
                "dur": max(1.0, (s.end - s.start) * 1000),
                "pid": 0,
                "tid": tid,
                "args": {"id": s.id, "parent": s.parent, "exec": s.exec_id},
            }
        )
    return events

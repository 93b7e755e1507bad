"""Fold an uncompressed Spark event log into per-span figures.

Jobs map to spans by ``spark.jobGroup.id`` (``<span name>#<span id>``, set
by ``spans.Tracer``), stages map to the job that listed them first, and
jobs map to SQL executions by ``spark.sql.execution.id``. A job belongs to
the innermost span open when it was submitted, so a span's jobs, executor
time and shuffle bytes are its own, not its children's.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass, field

# stage accumulables of the Arrow/pandas UDF operators (milliseconds, bytes)
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
_PY_METRICS = (PY_START, PY_INIT, PY_RUN, PY_SENT)

_WANTED = ('"Event":"SparkListenerJobStart"', '"Event":"SparkListenerJobEnd"',
           '"Event":"SparkListenerStageCompleted"')


@dataclass
class Job:
    group: str | None
    execution: str | None
    start_ms: int
    stages: list[int]
    end_ms: int | None = None


@dataclass
class Stage:
    executor_ms: float
    shuffle_write_bytes: float
    spill_bytes: float
    python: Counter = field(default_factory=Counter)


def parse(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            if not any(w in line for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id"),
                    execution=props.get("spark.sql.execution.id"),
                    start_ms=ev["Submission Time"],
                    stages=list(ev["Stage IDs"]))
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            else:
                info = ev["Stage Info"]
                acc: Counter = Counter()
                for a in info.get("Accumulables", ()):
                    try:
                        acc[a["Name"]] += float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
                st = stages.setdefault(info["Stage ID"], Stage(0.0, 0.0, 0.0))
                st.executor_ms += acc["internal.metrics.executorRunTime"]
                st.shuffle_write_bytes += acc[
                    "internal.metrics.shuffle.write.bytesWritten"]
                st.spill_bytes += acc["internal.metrics.diskBytesSpilled"]
                for k in _PY_METRICS:
                    st.python[k] += acc[k]
    return jobs, stages


def _stage_owner(jobs: dict[int, Job]) -> dict[int, int]:
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stages:
            owner.setdefault(sid, jid)
    return owner


def _covered_s(intervals: list[tuple[float, float]], lo: float,
               hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class SpanStats:
    calls: int = 0
    walls: list[float] = field(default_factory=list)
    jobs: int = 0
    executions: int = 0
    executor_s: float = 0.0
    driver_gap_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0


def fold(jobs: dict[int, Job], stages: dict[int, Stage], spans: list
         ) -> dict[str, SpanStats]:
    """Per span name: calls, walls, and the summed figures of the jobs each
    call owned. ``spans`` are ``spans.Span`` records (name, sid, parent,
    start, end, wall_s, group)."""
    owner = _stage_owner(jobs)
    by_job: dict[int, list[Stage]] = {}
    for sid, st in stages.items():
        if sid in owner:
            by_job.setdefault(owner[sid], []).append(st)
    by_group: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        if j.group is not None:
            by_group.setdefault(j.group, []).append(jid)
    child_wall: Counter = Counter()
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] += s.wall_s

    out: dict[str, SpanStats] = {}
    for s in spans:
        st = out.setdefault(s.name, SpanStats())
        st.calls += 1
        st.walls.append(s.wall_s)
        own = by_group.get(s.group, [])
        st.jobs += len(own)
        st.executions += len({jobs[j].execution for j in own
                              if jobs[j].execution is not None})
        for jid in own:
            for stage in by_job.get(jid, ()):
                st.executor_s += stage.executor_ms / 1000
                st.shuffle_write_bytes += stage.shuffle_write_bytes
                st.spill_bytes += stage.spill_bytes
        covered = _covered_s(
            [(jobs[j].start_ms / 1000,
              (jobs[j].end_ms or jobs[j].start_ms) / 1000) for j in own],
            s.start, s.end)
        st.driver_gap_s += max(0.0, s.wall_s - child_wall[s.sid] - covered)
    return out


def python_udf_totals(jobs: dict[int, Job], stages: dict[int, Stage],
                      lo: float, hi: float) -> dict[str, float]:
    """Arrow UDF accumulables summed over the stages of jobs submitted in
    [lo, hi] (epoch seconds): seconds for times, bytes for data."""
    owner = _stage_owner(jobs)
    tot: Counter = Counter()
    for sid, st in stages.items():
        j = jobs.get(owner.get(sid, -1))
        if j is not None and lo <= j.start_ms / 1000 <= hi:
            tot.update(st.python)
    return {
        "python_start_s": tot[PY_START] / 1000,
        "python_init_s": tot[PY_INIT] / 1000,
        "python_run_s": tot[PY_RUN] / 1000,
        "bytes_to_python": tot[PY_SENT],
    }


def unattributed_jobs(jobs: dict[int, Job], lo: float, hi: float) -> int:
    return sum(1 for j in jobs.values()
               if j.group is None and lo <= j.start_ms / 1000 <= hi)

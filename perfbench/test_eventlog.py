"""The event-log folder on a small recorded log.

``fixtures/eventlog_small.jsonl`` is a real local[2] Spark 4 event log,
trimmed to the events and accumulables the folder reads; the spans that were
open while it ran are in ``fixtures/spans_small.json``. It holds:

- jobs 0-1: a count outside any span (unattributed);
- jobs 2-3: span ``outer``'s own count (job 3's first stage was skipped);
- jobs 4-5: span ``inner`` (a child of ``outer``): a pandas UDF and an
  aggregation, so its stage carries the Python-worker accumulables;
- span ``idle``: no jobs at all.

Run with ``python3 -m pytest perfbench`` from the repository root.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from spans import Span  # noqa: E402


@pytest.fixture(scope="module")
def recorded():
    jobs, stages = eventlog.parse(
        os.path.join(HERE, "fixtures", "eventlog_small.jsonl"))
    with open(os.path.join(HERE, "fixtures", "spans_small.json")) as f:
        spans = [Span(**s) for s in json.load(f)]
    return jobs, stages, spans


def test_jobs_go_to_the_innermost_span(recorded):
    jobs, stages, spans = recorded
    folded = eventlog.fold(jobs, stages, spans)
    assert (folded["outer"].jobs, folded["inner"].jobs,
            folded["idle"].jobs) == (2, 2, 0)
    assert (folded["outer"].executions, folded["inner"].executions) == (1, 1)
    assert eventlog.unattributed_jobs(jobs, 0, 1e12) == 2


def test_stage_figures_sum_into_their_job_span(recorded):
    jobs, stages, spans = recorded
    folded = eventlog.fold(jobs, stages, spans)
    # stages 3 and 5 (stage 4 was skipped: no completion, no figures)
    assert folded["outer"].executor_s == pytest.approx(0.098 + 0.005)
    assert folded["outer"].shuffle_write_bytes == 118
    assert folded["inner"].executor_s == pytest.approx(4.386 + 0.043)
    assert folded["inner"].shuffle_write_bytes == 202
    assert folded["inner"].spill_bytes == 0


def test_driver_gap_is_self_time_outside_own_jobs(recorded):
    jobs, stages, spans = recorded
    folded = eventlog.fold(jobs, stages, spans)
    outer, inner, idle = spans
    # outer: wall minus the child's wall minus jobs 2 and 3
    assert folded["outer"].driver_gap_s == pytest.approx(
        outer.wall_s - inner.wall_s - (0.096 + 0.043))
    # inner: wall minus jobs 4 and 5
    assert folded["inner"].driver_gap_s == pytest.approx(
        inner.wall_s - (2.264 + 0.088))
    assert folded["idle"].driver_gap_s == pytest.approx(idle.wall_s)
    assert folded["inner"].walls == [inner.wall_s]


def test_python_worker_accumulables(recorded):
    jobs, stages, spans = recorded
    tot = eventlog.python_udf_totals(jobs, stages, 0, 1e12)
    assert tot == {"python_start_s": pytest.approx(2.207),
                   "python_init_s": pytest.approx(1.550),
                   "python_run_s": pytest.approx(3.768),
                   "bytes_to_python": 5096}
    # only jobs submitted inside the window count
    assert eventlog.python_udf_totals(
        jobs, stages, 0, jobs[4].start_ms / 1000 - 1)["python_run_s"] == 0


def test_covered_merges_overlaps_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert eventlog._covered_s(iv, 0.5, 10.0) == pytest.approx(
        2.5 + 1.0 + 1.0)
    assert eventlog._covered_s([], 0.0, 1.0) == 0.0

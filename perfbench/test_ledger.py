"""Pins the event-log ledger against a tiny recorded event log
(testdata/, regenerated by testdata/record_eventlog.py).

    python3 -m pytest perfbench/test_ledger.py -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from harness import Span
from ledger import Job, attribute, ledger, parse, read_event_log, rollup

DATA = Path(__file__).resolve().parent / "testdata"


@pytest.fixture(scope="module")
def spans():
    return [Span(**s) for s in json.loads((DATA / "spans.json").read_text())]


@pytest.fixture(scope="module")
def rows(spans):
    return ledger(read_event_log(DATA / "eventlog.jsonl"), spans, "tiny")


def test_jobs_are_charged_by_group_then_time_then_untagged(spans):
    jobs, _ = parse(read_event_log(DATA / "eventlog.jsonl"))
    assert [j.group for j in jobs] == ["tiny.scan", "tiny.python", None, None]
    owner = attribute(jobs, spans, "tiny")
    assert owner == {0: "tiny.scan", 1: "tiny.python", 2: "tiny.thread", 3: "tiny.untagged"}


def test_task_totals_per_call(rows):
    scan = rows["tiny.scan"]
    assert (scan["calls"], scan["jobs"], scan["stages"], scan["tasks"]) == (1, 1, 2, 3)
    assert scan["run_ms"] == 432 and scan["gc_ms"] == 33
    assert scan["cpu_ms"] == pytest.approx(292.225062)
    assert scan["shuffle_write_bytes"] == 118
    assert scan["wall_s"] == pytest.approx(5.0051627)


def test_python_worker_metrics(rows):
    py = rows["tiny.python"]
    assert py["python_run_ms"] == 3614
    assert (py["python_bytes_sent"], py["python_bytes_returned"]) == (8608, 8352)
    assert rows["tiny.scan"]["python_run_ms"] == 0


def test_single_task_stages_and_longest_task_share(rows):
    # the scan's final aggregate ran as one task with 165 of 432 ms
    assert rows["tiny.scan"]["single_task_stages"] == 1
    assert rows["tiny.scan"]["max_task_share"] == pytest.approx(165 / 432)
    assert rows["tiny.python"]["single_task_stages"] == 0
    assert rows["tiny.thread"]["max_task_share"] == 1.0


def test_untagged_job_has_no_span(rows):
    assert rows["tiny.untagged"]["calls"] == 0
    assert rows["tiny.untagged"]["jobs"] == 1


def test_rollup_totals_every_call(rows):
    r = rollup(rows, "tiny.")
    assert (r["spark.jobs"], r["spark.stages"], r["spark.tasks"]) == (4, 5, 7)
    assert r["spark.run_ms"] == 432 + 4383 + 37 + 20
    assert r["spark.untagged_jobs"] == 1
    assert r["spark.max_task_share"] == pytest.approx(2216 / (432 + 4383 + 37 + 20))


def test_jobs_before_since_are_left_out(spans):
    # job 2 was submitted at 1792208234.209 s, job 3 at 1792208234.421 s
    rows = ledger(read_event_log(DATA / "eventlog.jsonl"), spans, "tiny", since=1792208234.3)
    assert sum(r["jobs"] for r in rows.values()) == 1
    assert rows["tiny.untagged"]["jobs"] == 1


def test_job_without_group_under_overlapping_spans_is_untagged():
    # an HTTP handler thread submits a job (no job group) while a tick,
    # started from another thread with its own group, and the request's
    # span are both open: the job cannot be told apart by time, so it
    # goes to .untagged, never to the tick
    spans = [Span("w.serving.tick", 10.0, 15.0), Span("w.serving.read.iqr", 10.0, 11.0)]
    jobs = [
        Job(0, "w.serving.tick", 10_100, [0]),  # the tick's own job
        Job(1, None, 10_200, [1]),  # the handler's job, during both spans
        Job(2, None, 12_000, [2]),  # launched by the tick from a thread of its own
    ]
    owner = attribute(jobs, spans, "w")
    assert owner[0] == "w.serving.tick"
    assert owner[1] == "w.untagged"
    assert owner[2] == "w.serving.tick"

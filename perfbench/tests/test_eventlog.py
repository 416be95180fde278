"""The event-log parser on a tiny recorded log (see record_eventlog.py)."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "tiny_eventlog_meta.json")) as f:
        meta = json.load(f)
    events = eventlog.read(os.path.join(DATA, "tiny_eventlog.jsonl"))
    return meta, eventlog.summarize(events, "job-0", default_parallelism=2)


def test_counts_match_the_recorded_job(recorded):
    meta, got = recorded
    assert got["sources.rows_read"] == meta["spans"]
    assert got["operators.aggregate.rows_out"] == meta["links_in_day"]
    assert got["operators.aggregate.rows_in"] == got["operators.link.rows_out"]
    # dedup drops exactly the appended duplicate reports, and the trace
    # shuffle carries what dedup kept
    kept = meta["spans"] - meta["duplicates"]
    assert got["operators.dedup.rows_out_ratio"] == pytest.approx(kept / meta["spans"])
    assert got["operators.link.shuffle_records"] == kept
    assert got["spark.exchanges"] == 3
    assert got["sinks.files_written"] >= 1
    assert got["spark.default_parallelism"] == 2


def test_sizes_and_times_are_positive(recorded):
    _, got = recorded
    for name in ("sources.bytes_read", "operators.dedup.shuffle_bytes",
                 "operators.link.shuffle_bytes", "operators.link.bytes_to_python",
                 "operators.aggregate.shuffle_bytes", "sinks.bytes_written",
                 "operators.link.python_s", "spark.executor_run_s", "spark.executor_cpu_s"):
        assert got[name] > 0, name
    assert got["operators.link.spill_bytes"] == 0
    assert got["operators.link.task_max_over_median"] >= 1
    assert 1 <= got["spark.peak_concurrent_tasks"] <= 2
    assert 0 < got["spark.core_utilization"] <= 1


def test_spark_structure(recorded):
    _, got = recorded
    assert got["spark.jobs"] >= 1
    assert got["spark.stages"] >= 3
    assert got["spark.tasks"] >= got["spark.stages"]


def test_untagged_phase_is_an_error():
    events = eventlog.read(os.path.join(DATA, "tiny_eventlog.jsonl"))
    with pytest.raises(ValueError, match="no jobs tagged"):
        eventlog.summarize(events, "job-9", default_parallelism=2)


def test_peak_concurrency_counts_overlap_only():
    assert eventlog._peak_concurrency([(0, 10), (10, 20), (5, 15)]) == 2
    assert eventlog._peak_concurrency([(0, 1), (2, 3)]) == 1

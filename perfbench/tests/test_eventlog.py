"""Spark-free tests of the event-log parser on a small hand-made log."""

from __future__ import annotations

import os
import shutil

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_tiny.jsonl")


def _groups():
    with open(FIXTURE, encoding="utf-8") as fh:
        return eventlog.aggregate(fh)


def test_task_metrics_are_summed_per_job_group():
    g = _groups()
    assert set(g) == {"operators.aggregates", "5f0c-run-id", eventlog.NO_GROUP}
    agg = g["operators.aggregates"]
    assert agg["stages"] == 3  # the skipped stage 4 never ran
    assert agg["tasks"] == 4
    assert agg["cpu_s"] == pytest.approx(0.25)
    assert agg["run_s"] == pytest.approx(0.39)
    assert agg["gc_s"] == pytest.approx(0.01)
    assert agg["shuffle_write_bytes"] == 5120
    assert agg["shuffle_read_bytes"] == 1000 + 4120 + 512
    assert agg["input_records"] == 1500


def test_streaming_and_ungrouped_jobs_stay_apart():
    g = _groups()
    stream = g["5f0c-run-id"]
    assert stream["tasks"] == 1
    assert stream["cpu_s"] == pytest.approx(0.25)
    assert stream["spill_bytes"] == 96
    assert g[eventlog.NO_GROUP]["input_records"] == 5


def test_aggregate_dir_merges_one_log_per_session(tmp_path):
    for name in ("app-1", "app-2"):
        shutil.copy(FIXTURE, tmp_path / name)
    g = eventlog.aggregate_dir(str(tmp_path))
    assert g["operators.aggregates"]["tasks"] == 8
    assert g["5f0c-run-id"]["cpu_s"] == pytest.approx(0.5)


def test_total_over_selected_groups():
    g = _groups()
    t = eventlog.total(g, {"operators.aggregates", "5f0c-run-id"})
    assert t["tasks"] == 5
    assert eventlog.total(g)["tasks"] == 6
    assert eventlog.total(g, set())["tasks"] == 0

"""Spark-free tests of the benchmark's measurement arithmetic.

Run with: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import stats


def test_percentile_nearest_rank():
    values = [float(v) for v in range(1, 101)]  # 1..100
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(values, 100) == 100.0
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_sample_count_rule():
    # the median needs ten samples above it, the p90 ten above the 90th
    assert stats.beyond(20, 50) == 10
    assert stats.supported(20, 50)
    assert not stats.supported(19, 50)
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)


def test_summarize_leaves_out_unsupported_percentiles():
    s = stats.summarize("read_s", [0.1] * 30)
    assert s == {"read_s_n": 30, "read_s_p50": 0.1}
    s = stats.summarize("read_s", [float(i) for i in range(100)])
    assert s["read_s_p90"] == 89.0 and s["read_s_n"] == 100
    assert stats.summarize("batch_s", [1.0] * 6) == {"batch_s_n": 6}


def test_publisher_lateness():
    due = stats.schedule(100.0, 4, 3.0)
    assert due == [100.0, 103.0, 106.0, 109.0]
    # early publications count as on time; late ones by how late they ran
    actual = [99.5, 103.2, 108.0, 109.0]
    assert stats.lateness(due, actual) == pytest.approx([0.0, 0.2, 2.0, 0.0])
    with pytest.raises(ValueError):
        stats.lateness(due, actual[:2])


def _source_log(entries):
    return "v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n"


def test_parse_source_log():
    text = _source_log(
        [
            {"path": "file:///x/wire/wire-00000.json", "timestamp": 1, "batchId": 0},
            {"path": "file:///x/wire/wire-00001.json", "timestamp": 2, "batchId": 0},
        ]
    )
    assert stats.parse_source_log(text) == {"wire-00000.json": 0, "wire-00001.json": 0}


def test_read_source_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (log / "0").write_text(_source_log([{"path": "/w/a.json", "timestamp": 1, "batchId": 0}]))
    (log / "1").write_text(_source_log([{"path": "/w/b.json", "timestamp": 2, "batchId": 1}]))
    (log / ".1.crc").write_text("ignored")
    assert stats.read_source_log(str(tmp_path)) == {"a.json": 0, "b.json": 1}
    assert stats.read_source_log(str(tmp_path / "missing")) == {}


def test_batch_commits_from_progress():
    progress = [
        {"batchId": 0, "numInputRows": 10, "timestamp": "2026-01-01T00:00:00.000Z",
         "durationMs": {"triggerExecution": 1500}},
        # an empty trigger commits nothing
        {"batchId": 1, "numInputRows": 0, "timestamp": "2026-01-01T00:00:30.000Z",
         "durationMs": {"triggerExecution": 5}},
        {"batchId": 1, "numInputRows": 7, "timestamp": "2026-01-01T00:01:00.250Z",
         "durationMs": {"triggerExecution": 750}},
    ]
    t0 = stats.progress_time("2026-01-01T00:00:00.000Z")
    commits = stats.batch_commits(progress)
    assert commits[0] == pytest.approx(t0 + 1.5)
    assert commits[1] == pytest.approx(t0 + 61.0)


def test_freshness_joins_files_to_their_batch_commit():
    due = {"a": 10.0, "b": 13.0, "c": 16.0, "d": 19.0}
    file_batch = {"a": 0, "b": 0, "c": 1}
    commits = {0: 14.0, 1: 20.0}
    values, missing = stats.freshness(due, file_batch, commits)
    assert values == pytest.approx([4.0, 1.0, 4.0])
    assert missing == ["d"]  # published but never committed: a failure

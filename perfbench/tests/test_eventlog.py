"""The event-log reader on a tiny log recorded from Spark 4.1 (local[2]):
a 2-task parquet write, then a read whose schema job and 2+2-task
aggregation (one shuffle) ran in a second window."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")
WRITE = ("write", 1792207407.660, 1792207411.475)
READ = ("read", 1792207411.525, 1792207412.995)


def test_parse_counts_every_event():
    log = eventlog.read(LOG)
    assert sorted(log["jobs"]) == [0, 1, 2]
    assert sorted(log["stages"]) == [0, 1, 2, 3]
    assert len(log["tasks"]) == 7
    assert log["jobs"][2] == {"submit": 1792207412.411, "end": 1792207412.961}


def test_attribution_by_window():
    out = eventlog.attribute(eventlog.read(LOG), [WRITE, READ])
    w, r = out["write"], out["read"]
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 1, 2)
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 3, 5)
    assert w["output_bytes"] == 2791 + 2790 and r["output_bytes"] == 0
    assert r["input_bytes"] == 1014 + 1012 and w["input_bytes"] == 0
    assert r["shuffle_write_bytes"] == 133 + 133
    assert r["shuffle_read_bytes"] == 140 + 126
    assert w["executor_run_s"] == pytest.approx(0.724 + 0.723)
    assert r["executor_run_s"] == pytest.approx(0.050 + 0.354 + 0.352 + 0.062 + 0.061)
    assert w["executor_cpu_s"] == pytest.approx((297163763 + 451293095) / 1e9)
    # duration - run - deserialize - result serialization - getting result
    assert w["scheduler_delay_s"] == pytest.approx((925 - 724 - 143 - 12 + 914 - 723 - 144 - 11) / 1000)
    assert w["job_intervals"] == [(1792207410.284, 1792207411.426)]


def test_work_outside_every_window_is_dropped():
    out = eventlog.attribute(eventlog.read(LOG), [READ])
    assert out["read"]["jobs"] == 2 and "write" not in out

import os

import pytest

from perfbench import eventlog

SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_sample.jsonl")


def test_fold_tiny_log():
    # opA: a mapInPandas stage (2 tasks) and a shuffle-read stage (3
    # tasks); opB: two count stages (2 + 1 tasks)
    windows = {"opA": [(1792207398.3, 1792207402.9)], "opB": [(1792207403.3, 1792207403.7)]}
    m = eventlog.fold(eventlog.read_events([SAMPLE]), windows)
    a, b = m["opA"], m["opB"]
    assert (a["stages"], a["tasks"], b["stages"], b["tasks"]) == (2, 5, 2, 3)
    assert a["python_run_ms"] == 2796 + 2802
    assert a["python_bytes_in"] == 2 * 4304 and a["python_bytes_out"] == 2 * 8224
    assert a["shuffle_read_bytes"] == 3488 + 3453 + 3459
    assert b["python_run_ms"] == 0
    # skew of opA's heaviest stage: tasks of 3753 and 3728 ms
    assert a["task_skew"] == pytest.approx(3753 / ((3753 + 3728) / 2))
    # opB's window is 0.4 s; its stages run 0.098 s and 0.062 s of it
    assert b["driver_only_s"] == pytest.approx(0.4 - 0.098 - 0.062, abs=1e-6)
    assert set(m) == {"opA", "opB"} and set(a) == set(eventlog.METRICS)


def test_fold_keeps_applications_apart(tmp_path):
    # the same log again under another application id: stage ids repeat
    # across applications, so every count doubles and nothing is merged
    other = tmp_path / "other.jsonl"
    other.write_text(open(SAMPLE).read().replace("local-1792207390451", "local-2"))
    windows = {"opA": [(1792207398.3, 1792207402.9)], "opB": [(1792207403.3, 1792207403.7)]}
    one = eventlog.fold(eventlog.read_events([SAMPLE]), windows)
    two = eventlog.fold(eventlog.read_events([SAMPLE, str(other)]), windows)
    for op in windows:
        for m in ("stages", "tasks", "python_run_ms", "shuffle_read_bytes"):
            assert two[op][m] == 2 * one[op][m]

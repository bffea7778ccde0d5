"""The event-log parser against a small committed fixture log."""

import os

import pytest

from perfbench.trace import event_files, parse_event_log, totals

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.json")


def test_tagged_jobs_only_and_their_task_metrics():
    groups = parse_event_log([FIXTURE])
    # job 1 has no job group: its stage-2 task is not attributed anywhere
    assert set(groups) == {"bench:req0", "bench:idle"}
    req = groups["bench:req0"]
    assert req["jobs"] == 1
    assert req["tasks"] == 3
    assert req["failed_tasks"] == 1
    assert req["executor_run_s"] == pytest.approx(0.195)
    # (150 - 100 - 20 - 5) + (100 - 90) + (10 - 5) milliseconds
    assert req["scheduler_delay_s"] == pytest.approx(0.040)
    assert req["gc_s"] == pytest.approx(0.010)
    assert req["shuffle_read_bytes"] == 500
    assert req["shuffle_write_bytes"] == 500
    assert req["spill_bytes"] == 96
    assert req["python_runner_s"] == pytest.approx(0.040)
    assert groups["bench:idle"]["executor_run_s"] == pytest.approx(0.007)


def test_totals_exclude_idle_group():
    out = totals(parse_event_log([FIXTURE]), exclude=("bench:idle",))
    assert out["executor_run_s"] == pytest.approx(0.195)
    assert out["tasks"] == 3


def test_event_files_orders_rolling_parts(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for name in ("events_10_local-1", "events_2_local-1", "appstatus_local-1"):
        (app / name).write_text("")
    (tmp_path / "local-2").write_text("")
    assert [os.path.basename(p) for p in event_files(str(tmp_path))] == [
        "events_2_local-1", "events_10_local-1", "local-2"]

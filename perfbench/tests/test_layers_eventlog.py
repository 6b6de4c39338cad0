"""Event-log and streaming-progress parsers on a recorded sample.

``data/eventlog_sample.jsonl`` is cut from a real Spark 4.1 event log of
this benchmark (bulky fields trimmed): job 7 (one scan stage, three
tasks), job 21 (stage 25 skipped because its shuffle was reused, stage
26 with two tasks), two streaming progress events, unrelated events,
and a torn last line as an in-progress log ends.
"""

import json
import os

import pytest

from perfbench import layers

DATA = os.path.join(os.path.dirname(__file__), "data")
JOB7_SUBMIT = 1792203839.344
JOB21_SUBMIT = 1792203843.499


@pytest.fixture(scope="module")
def log():
    with open(os.path.join(DATA, "eventlog_sample.jsonl")) as f:
        return layers.parse_event_log(f)


def test_jobs_and_stages_are_parsed(log):
    assert set(log["jobs"]) == {7, 21}
    assert log["jobs"][21]["stages"] == [25, 26]
    assert log["jobs"][7]["submit"] == pytest.approx(JOB7_SUBMIT)
    assert log["jobs"][7]["end"] == pytest.approx(1792203839.701)
    st = log["stages"][7]
    assert st["tasks"] == 3
    assert st["run_s"] == pytest.approx(0.913)
    assert st["cpu_s"] == pytest.approx(0.608268965)
    assert st["input_bytes"] == 13012
    assert st["input_records"] == 100000
    assert st["shuffle_write"] == 535935
    assert st["end"] - st["submit"] == pytest.approx(0.355)
    assert 25 not in log["stages"]  # skipped: no tasks, no completion


def test_counters_sum_jobs_submitted_inside_windows(log):
    both = layers.spark_counters(log, [(JOB7_SUBMIT - 1, JOB21_SUBMIT + 1)])
    assert both["jobs"] == 2
    assert both["stages"] == 2
    assert both["tasks"] == 5
    assert both["single_task_stages"] == 0
    assert both["executor_run_s"] == pytest.approx(1.055)
    assert both["executor_cpu_s"] == pytest.approx(0.713945907)
    assert both["gc_s"] == pytest.approx(0.039)
    assert both["shuffle_read_bytes"] == 3790
    assert both["shuffle_write_bytes"] == 543489
    assert both["input_bytes"] == 14914
    assert both["input_records"] == 100150
    assert both["scan_tasks"] == 5
    assert both["scan_stage_s"] == pytest.approx(0.456)
    assert both["failed_tasks"] == 0

    only7 = layers.spark_counters(log, [(JOB7_SUBMIT, JOB7_SUBMIT + 1)])
    assert (only7["jobs"], only7["tasks"]) == (1, 3)
    assert layers.spark_counters(log, [])["jobs"] == 0


def test_stream_counters_on_recorded_progress():
    with open(os.path.join(DATA, "eventlog_sample.jsonl")) as f:
        progress = [json.loads(line)["progress"] for line in f
                    if "QueryProgressEvent" in line]
    assert len(progress) == 2
    c = layers.stream_counters(progress)
    assert c["batches"] == 2
    assert c["trigger_s"] == pytest.approx(0.842)
    assert c["add_batch_s"] == pytest.approx(0.509)
    assert c["commit_s"] == pytest.approx((54 + 38 + 47 + 42) / 1000)
    assert c["planning_s"] == pytest.approx(0.027)
    assert c["state_rows"] == 0


def test_state_is_the_last_progress_of_each_run():
    def prog(run, rows, mem):
        return {"runId": run, "durationMs": {"triggerExecution": 10},
                "stateOperators": [{"numRowsTotal": rows, "memoryUsedBytes": mem}]}

    c = layers.stream_counters([prog("a", 5, 100), prog("a", 7, 140), prog("b", 3, 60)])
    assert c["state_rows"] == 10
    assert c["state_bytes"] == 200
    assert c["batches"] == 3


def test_read_event_logs_keeps_applications_apart(tmp_path):
    with open(os.path.join(DATA, "eventlog_sample.jsonl")) as f:
        text = f.read()
    for app in ("app-1", "app-2"):
        (tmp_path / app).write_text(text)
    merged = layers.read_event_logs(str(tmp_path))
    assert len(merged["jobs"]) == 4
    c = layers.spark_counters(merged, [(JOB7_SUBMIT, JOB7_SUBMIT)])
    assert (c["jobs"], c["stages"], c["tasks"]) == (2, 2, 6)


def test_failed_tasks_are_counted():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
                    "Stage IDs": [3]}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 3,
                    "Task End Reason": {"Reason": "ExceptionFailure"},
                    "Task Info": {"Failed": True}, "Task Metrics": {}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 3,
                    "Task End Reason": {"Reason": "Success"},
                    "Task Info": {"Failed": False}, "Task Metrics": {"Executor Run Time": 5}}),
    ]
    c = layers.spark_counters(layers.parse_event_log(lines), [(0.5, 1.5)])
    assert (c["tasks"], c["failed_tasks"], c["single_task_stages"]) == (2, 1, 0)

"""Tests of the benchmark's own parts, at tiny sizes and without Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import gen
from perfbench.trace import fold_event_log, fold_progress, median, percentile


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(root, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def test_tables_are_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = gen.write_tables(a, 7, 0.0001)
    assert gen.write_tables(b, 7, 0.0001) == rows
    gen.write_tables(c, 8, 0.0001)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert rows["lineitem"] > rows["orders"] > 0


def test_fraud_inputs_are_a_function_of_the_seed(tmp_path):
    def make(seed, d):
        os.makedirs(d)
        gen.write_market_stats(f"{d}/prime.parquet", f"{d}/comp.parquet", seed, 500)
        gen.write_dims(f"{d}/users.parquet", f"{d}/reviews.parquet", seed, 10)
        exp = gen.write_landing_batch(f"{d}/landing.json", seed, 0, 200, 10, 50)
        gen.write_alert_events(f"{d}/alerts.json", gen.alert_events(seed, 0, 50, 10, 10.0))
        return exp

    exp = make(3, str(tmp_path / "a"))
    assert make(3, str(tmp_path / "b")) == exp
    make(4, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert exp["lines"] == exp["valid"] + exp["dead"] + exp["corrupt"]
    with open(tmp_path / "a" / "landing.json") as f:
        assert sum(1 for _ in f) == exp["lines"]


def test_alert_events_never_fall_behind_the_watermark():
    batches = [gen.alert_events(1, c, 200, 20, 10.0) for c in range(3)]
    seen_max = None
    for batch in batches:
        if seen_max is not None:
            watermark = seen_max - gen.BUFFER_MIN * 60_000_000
            assert min(e["_ts_us"] for e in batch) > watermark
        seen_max = max(e["_ts_us"] for e in batch)


def _ev(iid, minute, risk=90):
    return {"id": iid, "risk_score": risk, "_ts_us": int(minute * 60_000_000)}


def test_realert_replay_suppresses_and_refires():
    fired = gen.replay_realert([[_ev("x", 0), _ev("x", 10), _ev("y", 5, risk=79), _ev("x", 31)]])
    assert fired == {("x", 0), ("x", 31 * 60_000_000)}


def test_realert_replay_keeps_micro_batch_order():
    # x at 31 fires in batch 1; the late x at 20 arrives in batch 2, so it
    # is suppressed by the earlier fire; x at 61 clears the window again.
    # Taken as one batch, 20 would fire first and suppress 31 instead.
    b1, b2 = [_ev("x", 31)], [_ev("x", 20), _ev("x", 61)]
    us = 60_000_000
    assert gen.replay_realert([b1, b2]) == {("x", 31 * us), ("x", 61 * us)}
    assert gen.replay_realert([b1 + b2]) == {("x", 20 * us), ("x", 61 * us)}


def test_percentile_is_nearest_rank():
    xs = [float(x) for x in range(1, 11)]
    assert percentile(xs, 50) == 5.0
    assert percentile(xs, 80) == 8.0
    assert percentile(xs, 81) == 9.0
    assert percentile(xs, 100) == 10.0
    assert percentile([3.0], 80) == 3.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_event_log_fold_attributes_jobs_by_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "s0.a.run"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "s0.a.run"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1600,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 30_000_000, "JVM GC Time": 2,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Input Metrics": {"Bytes Read": 100}},
         "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "25"}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 10}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 99}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9000},
    ]
    out = fold_event_log(events, {"s0.a.run": "s0.a.run"})
    assert set(out) == {"s0.a.run"}
    r = out["s0.a.run"]
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 2, 2)
    assert r["job_busy_ms"] == 1500  # union of [1000,2000] and [1500,2500]
    assert r["run_ms"] == 50 and r["cpu_ns"] == 30_000_000 and r["gc_ms"] == 2
    assert r["spill_bytes"] == 6 and r["shuffle_read_bytes"] == 7
    assert r["shuffle_write_bytes"] == 11 and r["input_bytes"] == 100
    assert r["python_ms"] == 25


def test_progress_fold():
    progress = [
        {"numInputRows": 10, "durationMs": {"triggerExecution": 300},
         "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 100}]},
        {"numInputRows": 0, "durationMs": {"triggerExecution": 50},
         "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 90}]},
    ]
    assert fold_progress(progress) == {
        "batches": 1, "input_rows": 10, "trigger_ms": 350, "state_rows": 3, "state_bytes": 90,
    }
    assert fold_progress([])["batches"] == 0

"""The shared fenced fold cycle (streaming/state.py) every foreachBatch
state store runs: an empty delta still advances the fence, a replayed
or older batch id commits nothing, ``state_before`` hands a replayed
batch its predecessor, and a version written without a fence column
reads as an unfenced seed."""

from __future__ import annotations

from pyspark.sql import functions as F

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.state import (
    committed_versions,
    fold_state,
    read_state,
    state_before,
    write_next_state,
)

SCHEMA = "k BIGINT, v BIGINT, applied_bid BIGINT"


def _sum(rows, delta):
    return (
        rows.unionByName(delta)
        .groupBy("k")
        .agg(F.sum("v").cast("bigint").alias("v"))
    )


def _delta(spark, rows):
    return spark.createDataFrame(rows, "k BIGINT, v BIGINT")


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def _raw(spark, state_dir):
    """The newest committed version as stored: data, sentinel, fence."""
    v = committed_versions(spark, state_dir)[-1]
    return {tuple(r) for r in spark.read.parquet(f"{state_dir}/v={v}").collect()}


def test_empty_delta_commits_sentinel_and_advances_fence(spark, tmp_path):
    d = str(tmp_path / "state")
    fold_state(spark, d, 0, SCHEMA, _delta(spark, []), _sum)
    assert committed_versions(spark, d) == [0]
    assert _raw(spark, d) == {(None, None, 0)}
    assert _rows(read_state(spark, d, SCHEMA)) == []

    fold_state(spark, d, 1, SCHEMA, _delta(spark, [(1, 5)]), _sum)
    assert committed_versions(spark, d) == [0, 1]
    assert _raw(spark, d) == {(None, None, 1), (1, 5, 1)}


def test_replayed_or_older_batch_commits_nothing(spark, tmp_path):
    d = str(tmp_path / "state")
    fold_state(spark, d, 0, SCHEMA, _delta(spark, [(1, 5)]), _sum)
    fold_state(spark, d, 1, SCHEMA, _delta(spark, [(1, 2), (2, 7)]), _sum)
    before = committed_versions(spark, d), _raw(spark, d)

    def must_not_merge(rows, delta):
        raise AssertionError("a fenced batch reached its merge")

    for bid in (1, 0):
        fold_state(spark, d, bid, SCHEMA, _delta(spark, [(1, 100)]), must_not_merge)
        assert (committed_versions(spark, d), _raw(spark, d)) == before
    assert _rows(read_state(spark, d, SCHEMA)) == [(1, 7), (2, 7)]


def test_state_before_returns_predecessor_on_replay(spark, tmp_path):
    d = str(tmp_path / "state")
    assert _rows(state_before(spark, d, 0, SCHEMA)) == []
    fold_state(spark, d, 0, SCHEMA, _delta(spark, [(1, 5)]), _sum)
    fold_state(spark, d, 1, SCHEMA, _delta(spark, [(2, 7)]), _sum)

    # the next batch sees the newest version ...
    assert _rows(state_before(spark, d, 2, SCHEMA)) == [(1, 5), (2, 7)]
    # ... a replay of batch 1 sees the version batch 1 was folded onto
    assert _rows(state_before(spark, d, 1, SCHEMA)) == [(1, 5)]
    # and nothing committed precedes batch 0
    assert _rows(state_before(spark, d, 0, SCHEMA)) == []


def test_version_without_fence_reads_as_unfenced_seed(spark, tmp_path):
    d = str(tmp_path / "state")
    write_next_state(spark, _delta(spark, [(1, 5), (3, 1)]), d)
    assert _rows(read_state(spark, d, SCHEMA)) == [(1, 5), (3, 1)]
    # unfenced: every batch id probes it and folds onto it
    assert _rows(state_before(spark, d, 0, SCHEMA)) == [(1, 5), (3, 1)]
    fold_state(spark, d, 0, SCHEMA, _delta(spark, [(1, 2)]), _sum)
    assert committed_versions(spark, d) == [0, 1]
    assert _rows(read_state(spark, d, SCHEMA)) == [(1, 7), (3, 1)]
    assert _rows(state_before(spark, d, 0, SCHEMA)) == [(1, 5), (3, 1)]

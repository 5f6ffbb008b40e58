"""Streaming IVM (streaming/ivm.py, ST14): the maintained view equals
a direct recompute over the logical current table after every batch —
merge-equals-recompute under inserts, deletes and update pairs, held
continuously; zero-count keys leave the view; restarts fold nothing
twice; state versions advance one per processed batch."""

from __future__ import annotations

import json

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.ivm import (
    merge_batch,
    start_view_maintenance,
    view_stats,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.state import (
    committed_versions,
)


def _chg(user, eid, op, value):
    return {"user_id": user, "event_id": eid, "op": op, "value": value}


def _write(path, rows):
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def _drain(spark, landing, state, ckpt):
    q = start_view_maintenance(spark, str(landing), str(state), str(ckpt))
    q.awaitTermination(120)


def _cents(v):
    import math

    return int(math.floor(v * 100 + 0.5))


def _expected(table):
    """Direct recompute over the logical current table {key: [values]}."""
    out = {}
    for u, vals in table.items():
        if not vals:
            continue
        cs = [_cents(v) for v in vals]
        out[u] = (len(cs), sum(cs), sum(c * c for c in cs))
    return out


def _view(spark, state):
    return {
        r.user_id: (r.n, r.s, r.s2)
        for r in view_stats(spark, str(state)).collect()
    }


def test_view_maintains_under_retractions(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    state, ckpt = tmp_path / "state", tmp_path / "ckpt"

    # batch 1: inserts only
    _write(
        landing / "b1.json",
        [
            _chg(1, 1, "I", 10.00),
            _chg(1, 2, "I", 20.50),
            _chg(2, 3, "I", 5.25),
        ],
    )
    _drain(spark, landing, state, ckpt)
    table = {1: [10.00, 20.50], 2: [5.25]}
    assert _view(spark, state) == _expected(table)
    assert committed_versions(spark, str(state)) == [0]

    # batch 2: a delete, an update pair (retract old + insert new) and
    # a new key — the signed merge absorbs all three change classes
    _write(
        landing / "b2.json",
        [
            _chg(1, 4, "D", 10.00),           # delete user 1's first row
            _chg(1, 5, "D", 20.50),           # update: retract old...
            _chg(1, 6, "I", 21.50),           # ...insert new value
            _chg(3, 7, "I", 100.00),          # brand-new key
        ],
    )
    _drain(spark, landing, state, ckpt)
    table = {1: [21.50], 2: [5.25], 3: [100.00]}
    assert _view(spark, state) == _expected(table)
    # one version per processed batch, predecessor retained
    assert committed_versions(spark, str(state))[-1] == 1

    # restart with nothing new: no batch runs, no version commits
    _drain(spark, landing, state, ckpt)
    assert committed_versions(spark, str(state))[-1] == 1

    # batch 3: retract EVERYTHING user 2 has — the key leaves the view
    _write(landing / "b3.json", [_chg(2, 8, "D", 5.25)])
    _drain(spark, landing, state, ckpt)
    table = {1: [21.50], 3: [100.00]}
    assert _view(spark, state) == _expected(table)
    assert 2 not in _view(spark, state)

    # derived stats come from the exact integer moments: user 1 has a
    # single 21.50 row — mean 21.5, variance 0
    stats = {
        r.user_id: (r.mean_value, r.var_value)
        for r in view_stats(spark, str(state)).collect()
    }
    assert stats[1] == (21.5, 0.0)


def test_merge_batch_replay_fence(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch id must NOT
    double-fold its signed delta into the view (the applied_bid fence
    — ST9's bit_or is naturally idempotent, a signed sum is not)."""
    state = tmp_path / "state"
    b1 = spark.createDataFrame(
        [(1, 1, "I", 10.00), (1, 2, "I", 30.00)],
        "user_id long, event_id long, op string, value double",
    )
    merge_batch(b1, 0, str(state))
    b2 = spark.createDataFrame(
        [(1, 3, "D", 30.00)],
        "user_id long, event_id long, op string, value double",
    )
    merge_batch(b2, 1, str(state))
    assert _view(spark, state) == {1: (1, 1000, 1000000)}
    assert committed_versions(spark, str(state)) == [0, 1]

    # REPLAY batch 1 (crash between state commit and streaming commit
    # log): the fence no-ops — view unchanged, no new version
    merge_batch(b2, 1, str(state))
    assert _view(spark, state) == {1: (1, 1000, 1000000)}
    assert committed_versions(spark, str(state)) == [0, 1]

    # a replayed EARLIER batch is fenced too
    merge_batch(b1, 0, str(state))
    assert _view(spark, state) == {1: (1, 1000, 1000000)}
    assert committed_versions(spark, str(state)) == [0, 1]

    # the fence survives a view that empties: retract the last row,
    # then replay that same batch — still one fold
    b3 = spark.createDataFrame(
        [(1, 4, "D", 10.00)],
        "user_id long, event_id long, op string, value double",
    )
    merge_batch(b3, 2, str(state))
    assert _view(spark, state) == {}
    merge_batch(b3, 2, str(state))
    assert _view(spark, state) == {}
    assert committed_versions(spark, str(state))[-1] == 2


# --- bucketed store (VERDICT r11 item 4: the named production variant) ----


def _bview(spark, state, n_buckets=4):
    return {
        r.user_id: (r.n, r.s, r.s2)
        for r in view_stats(spark, str(state), n_buckets=n_buckets).collect()
    }


def _bucket_of(spark, users, n_buckets=4):
    from pyspark.sql import functions as F

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.state import (
        key_bucket,
    )

    df = spark.createDataFrame([(u,) for u in users], "user_id long")
    return {
        r.user_id: r.b
        for r in df.select(
            "user_id", key_bucket(F.col("user_id"), n_buckets).alias("b")
        ).collect()
    }


def test_bucketed_view_parity_and_dirty_bucket_io(spark, tmp_path):
    """The bucketed store holds ivm02 parity (merge == recompute under
    deletes), keys never migrate buckets, and — the 100 TB property —
    a batch advances versions ONLY in the buckets its keys touch:
    clean buckets do zero I/O."""
    landing = tmp_path / "landing"
    landing.mkdir()
    state, ckpt = tmp_path / "state", tmp_path / "ckpt"
    users = [1, 2, 3, 17]
    buckets = _bucket_of(spark, users)
    # pick two users in DIFFERENT buckets so the dirty-bucket assertion
    # is non-vacuous (portable hash, so these are stable forever)
    u_a, u_b = 1, next(u for u in users if buckets[u] != buckets[1])

    def _drain_b():
        q = start_view_maintenance(
            spark, str(landing), str(state), str(ckpt), n_buckets=4
        )
        q.awaitTermination(120)

    _write(
        landing / "b1.json",
        [
            _chg(u_a, 1, "I", 10.00),
            _chg(u_a, 2, "I", 20.50),
            _chg(u_b, 3, "I", 5.25),
        ],
    )
    _drain_b()
    table = {u_a: [10.00, 20.50], u_b: [5.25]}
    assert _bview(spark, state) == _expected(table)

    versions_before = {
        b: committed_versions(spark, str(state / f"bucket={b}"))
        for b in range(4)
    }
    # batch 2 touches ONLY u_a (delete + update pair) — u_b's bucket
    # must not write a new version
    _write(
        landing / "b2.json",
        [
            _chg(u_a, 4, "D", 10.00),
            _chg(u_a, 5, "D", 20.50),
            _chg(u_a, 6, "I", 21.50),
        ],
    )
    _drain_b()
    table = {u_a: [21.50], u_b: [5.25]}
    assert _bview(spark, state) == _expected(table)
    for b in range(4):
        after = committed_versions(spark, str(state / f"bucket={b}"))
        if b == buckets[u_a]:
            assert after[-1] > versions_before[b][-1], (b, after)
        else:
            assert after == versions_before[b], (b, after)

    # full retraction: the key leaves the bucketed view too
    _write(landing / "b3.json", [_chg(u_b, 7, "D", 5.25)])
    _drain_b()
    assert _bview(spark, state) == _expected({u_a: [21.50]})


def test_bucketed_partial_commit_replay_converges(spark, tmp_path):
    """Per-bucket fences under at-least-once replay: a crash after SOME
    buckets committed batch N replays the whole batch — fenced buckets
    skip, the rest fold, and the result equals exactly-once. Simulated
    by folding a one-bucket SLICE of the batch first (the partial
    commit), then replaying the full batch under the same id."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.ivm import (
        merge_batch_bucketed,
    )

    state = tmp_path / "state"
    users = [1, 2, 3, 17]
    buckets = _bucket_of(spark, users)
    u_a, u_b = 1, next(u for u in users if buckets[u] != buckets[1])
    rows = [(u_a, 1, "I", 10.00), (u_b, 2, "I", 40.00)]
    full = spark.createDataFrame(
        rows, "user_id long, event_id long, op string, value double"
    )
    partial = full.filter(f"user_id = {u_a}")

    merge_batch_bucketed(partial, 0, str(state), 4)   # crash mid-commit
    merge_batch_bucketed(full, 0, str(state), 4)      # the replay
    assert _bview(spark, state) == _expected(
        {u_a: [10.00], u_b: [40.00]}
    )
    # replaying AGAIN folds nothing (both buckets fenced at bid 0)
    merge_batch_bucketed(full, 0, str(state), 4)
    assert _bview(spark, state) == _expected(
        {u_a: [10.00], u_b: [40.00]}
    )


def test_keyless_change_rows_drop_in_both_layouts(spark, tmp_path):
    """Review r12: a keyless change row (permissive JSON, missing
    user_id) cannot address view state — both store layouts drop it
    explicitly instead of the bucketed merge dying on a NULL bucket."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.ivm import (
        merge_batch_bucketed,
    )

    rows = [(None, 1, "I", 99.0), (1, 2, "I", 10.00)]
    batch = spark.createDataFrame(
        rows, "user_id long, event_id long, op string, value double"
    )
    single, bucketed = tmp_path / "s", tmp_path / "b"
    merge_batch(batch, 0, str(single))
    merge_batch_bucketed(batch, 0, str(bucketed), 4)
    assert _view(spark, single) == _expected({1: [10.00]})
    assert _bview(spark, bucketed) == _expected({1: [10.00]})

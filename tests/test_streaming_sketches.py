"""Streaming sketch maintenance (streaming/sketches.py, ST15): after
every micro-batch the maintained HLL registers and quantile-sketch
bucket counts equal the batch sketches computed directly over
everything ingested so far — sketch(stream) == sketch(batch), held
continuously; restarts and foreachBatch replays fold nothing twice;
a batch touching one group rewrites ONLY that group's bucket store;
the served estimates come from the maintained state alone."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.sketches import (
    EVENT_SCHEMA,
    N_BUCKETS_DEFAULT,
    fold_batch,
    hll_estimates,
    hll_register_partials,
    qsk_bucket_partials,
    quantile_estimates,
    read_hll_registers,
    read_qsk_buckets,
    start_sketch_maintenance,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.state import (
    committed_versions,
    key_bucket,
)

NB = 4


def _ev(grp, k, v):
    return {"grp": grp, "k": k, "v": v}


def _write(path, rows):
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def _drain(spark, landing, hll, qsk, ckpt):
    q = start_sketch_maintenance(
        spark, str(landing), str(hll), str(qsk), str(ckpt), n_buckets=NB
    )
    q.awaitTermination(120)


def _batch_df(spark, rows):
    return spark.createDataFrame(
        [(r["grp"], r["k"], r["v"]) for r in rows], EVENT_SCHEMA
    )


def _hll_state(spark, hll):
    return {
        (r.grp, r.reg): r.m
        for r in read_hll_registers(spark, str(hll), NB).collect()
    }


def _qsk_state(spark, qsk):
    return {
        r.b: r.cnt for r in read_qsk_buckets(spark, str(qsk), NB).collect()
    }


def _expected(spark, all_rows):
    df = _batch_df(spark, all_rows)
    regs = {
        (r.grp, r.reg): r.m for r in hll_register_partials(df).collect()
    }
    buckets = {r.b: r.cnt for r in qsk_bucket_partials(df).collect()}
    return regs, buckets


BATCH1 = [_ev("A", k, 10.0 + k) for k in range(40)] + [
    _ev("B", k, 500.0 + 3 * k) for k in range(10)
]
BATCH2 = (
    [_ev("A", k, 10.0 + k) for k in range(20, 60)]  # 20 new A keys
    + [_ev("C", 1000 + k, 0.25 * k) for k in range(30)]
    + [_ev(None, 7, 1.0), _ev("A", None, None)]  # keyless rows dropped
)
BATCH3 = [_ev("B", k, 500.0 + 3 * k) for k in range(10)]  # pure replayed data


def test_stream_equals_batch_sketch_held_continuously(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    hll, qsk, ckpt = tmp_path / "hll", tmp_path / "qsk", tmp_path / "ckpt"

    seen = []
    for i, rows in enumerate([BATCH1, BATCH2, BATCH3]):
        _write(landing / f"b{i}.json", rows)
        _drain(spark, landing, hll, qsk, ckpt)
        # no pre-filtering: the partial builders own the null rules
        # (HLL drops keyless rows, the histogram drops null values)
        seen += rows
        exp_regs, exp_buckets = _expected(spark, seen)
        assert _hll_state(spark, hll) == exp_regs, f"batch {i}"
        assert _qsk_state(spark, qsk) == exp_buckets, f"batch {i}"

    # served estimates come from state only and are self-consistent:
    # every group estimate positive; quantile ranks cover the count
    est = {r.grp: r.hll_estimate for r in hll_estimates(spark, str(hll), NB).collect()}
    assert set(est) == {"A", "B", "C"}
    assert all(v > 0 for v in est.values())
    n_total = sum(_qsk_state(spark, qsk).values())
    qrows = quantile_estimates(spark, str(qsk), NB).collect()
    assert {r.q_pct for r in qrows} == {25, 50, 75, 90, 99}
    assert all(r.n == n_total and 1 <= r.k_rank <= n_total for r in qrows)
    assert all(r.est_value > 0 for r in qrows)
    # the quantile estimates are monotone in q by construction
    vals = [r.est_value for r in sorted(qrows, key=lambda r: r.q_pct)]
    assert vals == sorted(vals)

    # restart with nothing new: no store commits a new version
    before = {
        d: committed_versions(spark, f"{s}/bucket={b}")
        for s in (str(hll), str(qsk))
        for b in range(NB)
        for d in [f"{s}/bucket={b}"]
    }
    _drain(spark, landing, hll, qsk, ckpt)
    after = {
        d: committed_versions(spark, d) for d in before
    }
    assert after == before


def test_replayed_batch_folds_nothing_twice(spark, tmp_path):
    hll, qsk = tmp_path / "hll", tmp_path / "qsk"
    fold_batch(_batch_df(spark, BATCH1), 0, str(hll), str(qsk), NB)
    fold_batch(_batch_df(spark, BATCH2), 1, str(hll), str(qsk), NB)
    regs, buckets = _hll_state(spark, hll), _qsk_state(spark, qsk)
    versions = {
        d: committed_versions(spark, d)
        for s in (str(hll), str(qsk))
        for b in range(NB)
        for d in [f"{s}/bucket={b}"]
    }
    # at-least-once replay of BOTH already-folded batches: the fences
    # no-op every bucket — state identical, zero new versions (the ADD
    # store would otherwise double-count; the MAX store would burn I/O)
    fold_batch(_batch_df(spark, BATCH1), 0, str(hll), str(qsk), NB)
    fold_batch(_batch_df(spark, BATCH2), 1, str(hll), str(qsk), NB)
    assert _hll_state(spark, hll) == regs
    assert _qsk_state(spark, qsk) == buckets
    assert {
        d: committed_versions(spark, d) for d in versions
    } == versions


def test_batch_rewrites_only_dirty_buckets(spark, tmp_path):
    hll, qsk = tmp_path / "hll", tmp_path / "qsk"
    fold_batch(_batch_df(spark, BATCH1), 0, str(hll), str(qsk), NB)
    hll_versions = {
        b: committed_versions(spark, f"{hll}/bucket={b}") for b in range(NB)
    }
    # a delta touching ONLY group A must rewrite only A's register
    # bucket; every other HLL bucket store does zero I/O
    a_bucket = (
        spark.range(1)
        .select(key_bucket(F.lit("A"), NB).alias("b"))
        .collect()[0]["b"]
    )
    fold_batch(
        _batch_df(spark, [_ev("A", 10_000, 7.77)]), 1, str(hll), str(qsk), NB
    )
    for b in range(NB):
        got = committed_versions(spark, f"{hll}/bucket={b}")
        if b == a_bucket:
            assert got == hll_versions[b] + [max(hll_versions[b]) + 1]
        else:
            assert got == hll_versions[b], f"clean bucket {b} was rewritten"


def test_default_bucket_count_is_exported(spark):
    # the production default the module documents
    assert N_BUCKETS_DEFAULT >= 2

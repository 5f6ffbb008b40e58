"""Streaming bloom-delta dedup (the continuous form of cp03's
incremental gate): a two-batch AvailableNow drain where batch-2
duplicates of batch-1 documents are flagged against the checkpointed
bloom state, a batch-side seed pre-loads the historical corpus, and a
checkpoint resume with no new files emits nothing and leaves the word
table intact."""

from __future__ import annotations

import json

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
    read_bloom_state,
    seed_bloom_state,
    start_bloom_ingest_query,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.state import (
    committed_versions,
)

DOC_A = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
    "mu nu xi omicron pi rho sigma tau upsilon"
)
DOC_B = (
    "red orange yellow green blue indigo violet crimson amber teal "
    "maroon navy olive coral silver golden bronze copper pearl jade"
)
DOC_C = (
    "north south east west spring summer autumn winter morning noon "
    "evening night river mountain valley desert island forest meadow"
)


def _doc(i, text, ts="2026-08-13T10:00:00"):
    return {
        "doc_id": i,
        "text": text,
        "lang": "en",
        "source": "src1",
        "ingest_ts": ts,
    }


def _write_ndjson(path, rows):
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def _drain(spark, landing, state, ckpt, got):
    def sink(batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    q = start_bloom_ingest_query(
        spark, str(landing), str(state), str(ckpt), sink
    )
    q.awaitTermination(120)


def test_bloom_stream_flags_cross_batch_dups_and_resumes(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    state = tmp_path / "bloom_state"
    ckpt = tmp_path / "ckpt"

    # batch 1: two fresh docs — nothing to collide with yet
    _write_ndjson(landing / "b1.json", [_doc(1, DOC_A), _doc(2, DOC_B)])
    got: list[dict] = []
    _drain(spark, landing, state, ckpt, got)
    b1 = {r["doc_id"]: r for r in got}
    assert set(b1) == {1, 2}
    assert not b1[1]["dup_flag"] and not b1[2]["dup_flag"]
    assert b1[1]["n_seen"] == 0 and b1[2]["n_seen"] == 0

    # batch 2: doc 3 duplicates batch-1's DOC_A (every shingle seen),
    # doc 4 is fresh — only the dup gets flagged
    _write_ndjson(landing / "b2.json", [_doc(3, DOC_A), _doc(4, DOC_C)])
    got.clear()
    _drain(spark, landing, state, ckpt, got)
    b2 = {r["doc_id"]: r for r in got}
    assert set(b2) == {3, 4}
    assert b2[3]["dup_flag"] and b2[3]["n_seen"] == b2[3]["n_sh"]
    assert not b2[4]["dup_flag"]
    # a bloom may over-claim (false positives) but NEVER under-claim:
    # the fresh doc's seen ratio stays under the dup threshold by
    # construction, and the dup's is exactly 1.0
    assert b2[3]["seen_ratio"] == 1.0

    # checkpoint resume with no new files: nothing re-emits, the word
    # table survives with the same bits
    before = {
        (r.word, r.bits) for r in read_bloom_state(spark, str(state)).collect()
    }
    got.clear()
    _drain(spark, landing, state, ckpt, got)
    assert got == []
    after = {
        (r.word, r.bits) for r in read_bloom_state(spark, str(state)).collect()
    }
    assert before == after
    assert len(after) <= 4096


def test_bloom_stream_replay_after_crash_keeps_verdicts(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the state commit
    but before the streaming commit log replays the batch. The replay
    must probe the state its verdicts were first computed against, so
    its docs are not flagged as duplicates of themselves, and the
    fenced fold must commit nothing."""
    landing = tmp_path / "landing"
    landing.mkdir()
    state = tmp_path / "bloom_state"
    ckpt = tmp_path / "ckpt"
    _write_ndjson(landing / "b1.json", [_doc(1, DOC_A), _doc(2, DOC_B)])

    got: list[dict] = []
    _drain(spark, landing, state, ckpt, got)
    first = {r["doc_id"]: (r["n_seen"], r["dup_flag"]) for r in got}
    assert set(first) == {1, 2}
    versions = committed_versions(spark, str(state))

    # crash after the state commit: batch 0's commit-log entry is lost
    for name in ("0", ".0.crc"):
        (ckpt / "commits" / name).unlink(missing_ok=True)
    got.clear()
    _drain(spark, landing, state, ckpt, got)
    replay = {r["doc_id"]: (r["n_seen"], r["dup_flag"]) for r in got}
    assert replay == first
    assert committed_versions(spark, str(state)) == versions


def test_bloom_state_survives_partial_writes(spark, tmp_path):
    """Crash-safety of the versioned state layout (ADVICE r09): an
    uncommitted version directory — a writer that died mid-write, so no
    parquet _SUCCESS marker — is invisible to the reader, which keeps
    serving the last COMMITTED version; and a fresh state dir with
    NOTHING committed reads as empty instead of erroring. The old
    mode('overwrite')-in-place layout failed exactly this: the crash
    deleted the previous state before the new write committed, and the
    read fallback silently reset the bloom to empty."""
    from pyspark.sql import Row

    state = tmp_path / "bloom_state"
    # nothing committed yet: empty, not an error
    assert read_bloom_state(spark, str(state)).count() == 0

    hist = spark.createDataFrame([Row(doc_id=100, text=DOC_A)])
    seed_bloom_state(spark, hist, str(state))
    committed = {
        (r.word, r.bits) for r in read_bloom_state(spark, str(state)).collect()
    }
    assert committed and committed_versions(spark, str(state)) == [0]

    # simulate a writer that crashed mid-write: v=1 exists with data
    # files but no _SUCCESS marker
    partial = state / "v=1"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"garbage, not parquet")
    assert committed_versions(spark, str(state)) == [0]
    after = {
        (r.word, r.bits) for r in read_bloom_state(spark, str(state)).collect()
    }
    assert after == committed

    # the next real commit reclaims the dead v=1 path and becomes the
    # version readers see (seeding twice is idempotent content-wise)
    seed_bloom_state(spark, hist, str(state))
    assert committed_versions(spark, str(state))[-1] == 1
    again = {
        (r.word, r.bits) for r in read_bloom_state(spark, str(state)).collect()
    }
    assert again == committed


def test_bloom_state_rejects_legacy_flat_layout(spark, tmp_path):
    """A state dir written by the pre-versioned flat layout (parquet
    files directly under state_dir) must ERROR with a migration hint —
    treating it as 'no state yet' would silently reset the dedup
    history, the exact failure mode the versioned layout fixes."""
    import pytest

    state = tmp_path / "bloom_state"
    state.mkdir()
    (state / "part-00000.parquet").write_bytes(b"x")
    (state / "_SUCCESS").write_bytes(b"")
    with pytest.raises(ValueError, match="pre-versioned"):
        read_bloom_state(spark, str(state))


def test_bloom_stream_reads_batch_side_seed(spark, tmp_path):
    """The batch→stream handoff: seed the state from a batch DataFrame
    (the historical corpus), then the FIRST streamed batch already
    flags duplicates of it."""
    from pyspark.sql import Row

    landing = tmp_path / "landing"
    landing.mkdir()
    state = tmp_path / "bloom_state"
    ckpt = tmp_path / "ckpt"

    hist = spark.createDataFrame(
        [Row(doc_id=100, text=DOC_A), Row(doc_id=101, text=DOC_B)]
    )
    seed_bloom_state(spark, hist, str(state))

    _write_ndjson(landing / "b1.json", [_doc(1, DOC_A), _doc(2, DOC_C)])
    got: list[dict] = []
    _drain(spark, landing, state, ckpt, got)
    rows = {r["doc_id"]: r for r in got}
    assert rows[1]["dup_flag"] and rows[1]["seen_ratio"] == 1.0
    assert not rows[2]["dup_flag"]


def test_bloom_stream_matches_batch_operator_verdicts(spark, tmp_path):
    """The stream's probe is dd12's probe: seed the state with the
    sf0.001 historical slice (doc_id % 10 != 0), stream the incoming
    slice (doc_id % 10 == 0) as one batch, and every per-doc
    (n_sh, n_bloom_hit) must equal the batch operator's row."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _t,
        dd12_bloom_incremental,
    )

    sf = "/root/testdata/sf0.001"
    docs = _t(spark, sf, "documents")
    seed_bloom_state(
        spark, docs.filter("doc_id % 10 != 0"), str(tmp_path / "state")
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    inc = [
        {
            "doc_id": r.doc_id,
            "text": r.text,
            "lang": "en",
            "source": "src1",
            "ingest_ts": "2026-08-13T10:00:00",
        }
        for r in docs.filter("doc_id % 10 = 0").collect()
    ]
    _write_ndjson(landing / "b1.json", inc)

    got: list[dict] = []
    _drain(spark, landing, tmp_path / "state", tmp_path / "ckpt", got)
    stream_rows = {r["doc_id"]: (r["n_sh"], r["n_seen"]) for r in got}

    batch_rows = {
        r.doc_id: (r.n_sh, r.n_bloom_hit)
        for r in dd12_bloom_incremental(spark, sf).collect()
    }
    assert stream_rows == batch_rows

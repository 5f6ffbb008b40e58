"""Structured Streaming corpus-ingest curation: quality filter +
watermark-bounded fingerprint dedupe + checkpointed exactly-once resume,
run with Trigger.AvailableNow over an NDJSON landing zone."""

from __future__ import annotations

import json

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
    start_ingest_query,
)

#: ≥30 tokens, mean word length in [3,10], several stopwords, low
#: duplicate-token ratio — passes every Gopher rule.
GOOD = (
    "the quick brown fox jumps over lazy dogs and then runs far into "
    "the green forest while birds sing songs of morning light it was "
    "a calm day full of wind and sun near those quiet hills"
)
#: fails rule_len (under 30 tokens)
SHORT = "the tiny doc is too short to keep"


def _doc(i, text, ts="2026-08-13T10:00:00", lang="en", source="src1"):
    return {
        "doc_id": i,
        "text": text,
        "lang": lang,
        "source": source,
        "ingest_ts": ts,
    }


def _write_ndjson(path, rows):
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def test_ingest_filters_dedupes_and_resumes(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"

    _write_ndjson(
        landing / "batch1.json",
        [
            _doc(1, GOOD),
            _doc(2, SHORT),  # fails the quality battery -> dropped
            _doc(3, "  " + GOOD.upper() + " "),  # normalized dup of 1
            _doc(4, GOOD + " plus unique trailing words here today"),
        ],
    )

    got: list[dict] = []

    def sink(batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    q = start_ingest_query(spark, str(landing), str(ckpt), sink)
    q.awaitTermination(120)

    # assert on CONTENT survival, not which doc_id won the in-batch
    # dedupe race (dropDuplicatesWithinWatermark keeps the first row to
    # reach the state store — not guaranteed to be the lower doc_id)
    ids = sorted(r["doc_id"] for r in got)
    assert len(got) == 2, got  # 2 filtered out, {1,3} deduped to one
    assert ids[0] in (1, 3) and ids[1] == 4, got
    fps = [r["fp"] for r in got]
    assert len(set(fps)) == 2  # one row per distinct content
    for r in got:
        assert len(r["fp"]) == 32 and r["fp"] == r["fp"].lower()
        assert r["n_tok"] >= 30
    good_fp = next(r["fp"] for r in got if r["doc_id"] != 4)

    # resume: a byte-dup of doc 1 within the horizon must NOT re-emit
    # (checkpointed dedupe state), a fresh doc must flow through
    _write_ndjson(
        landing / "batch2.json",
        [
            _doc(5, GOOD),  # exact dup of already-emitted content
            _doc(6, GOOD + " and some different closing words appear now"),
        ],
    )
    q2 = start_ingest_query(spark, str(landing), str(ckpt), sink)
    q2.awaitTermination(120)
    assert sorted(r["doc_id"] for r in got)[-1] == 6 and len(got) == 3, got
    assert sum(1 for r in got if r["fp"] == good_fp) == 1  # never re-emitted


def test_ingest_state_is_fingerprint_only(spark, tmp_path):
    """The stateful operator must key on the 32-hex fingerprint, never
    the raw text — pin it from the analyzed plan of the curated
    stream."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
        curated_stream,
        read_document_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    _write_ndjson(landing / "b.json", [_doc(1, GOOD)])
    df = curated_stream(read_document_stream(spark, str(landing)))
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark [fp#" in plan, plan


def test_ingest_drops_malformed_lines_gracefully(spark, tmp_path):
    """A corrupt NDJSON line must not kill the stream or emit a row:
    the schema'd json source nulls unparseable lines, every quality
    rule evaluates NULL on null text, and the keep filter drops NULL
    (three-valued logic) — the stream's quarantine-by-construction."""
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    (landing / "b.json").write_text(
        "{not valid json at all\n"
        + json.dumps(_doc(1, GOOD))
        + "\n"
        + '{"doc_id": "also-not-a-long"}\n'
    )

    got: list[dict] = []

    def sink(batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    q = start_ingest_query(spark, str(landing), str(ckpt), sink)
    q.awaitTermination(120)
    assert [r["doc_id"] for r in got] == [1], got


def test_stream_simhash_matches_batch_dd03(spark):
    """simhash_expr (the per-row stateless form) must be BIT-EXACT with
    the batch dd03 explode+groupBy operator — integer vote sums are
    order-free, so any mismatch is a real divergence."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _SIMHAM_SIG_BITS,
        dd03_simhash,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.textstats import (
        simhash_expr,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    batch = {
        r.doc_id: r.simhash
        for r in dd03_simhash(spark, sf, bits=_SIMHAM_SIG_BITS).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    stream_form = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", simhash_expr(F.col("text"), _SIMHAM_SIG_BITS).alias("sh")
        ).collect()
    }
    assert batch, "empty batch signature table"
    for doc_id, sig in batch.items():
        assert stream_form[doc_id] == sig, doc_id


def test_neardup_stream_matches_dd08_batch_verdicts(spark, tmp_path):
    """Replaying a batch with near-dup perturbations through the stream
    must drop exactly the docs that have an EARLIER dd08 pair partner
    (pairs are (a_id < b_id); ingest order follows doc_id) — the
    batch/stream asymmetry item: the stream now catches the same
    near-dups dd08's banding catches, not just byte-identical
    re-ingests. A checkpointed second run then replays a near-dup
    within the horizon (must stay dropped: state restored) plus a
    fresh doc (must flow)."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        dd08_simhash_neardup,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
        start_neardup_ingest_query,
    )

    base2 = (
        "buyers should meet sellers in a public place and verify the "
        "item works before any payment changes hands because scammers "
        "often push for speed and secrecy while honest people accept "
        "normal checks and patience during a sale"
    )
    texts = {
        1: GOOD,
        2: GOOD,  # byte-dup of 1 -> hamming 0
        3: GOOD.replace("quick", "rapid"),  # near perturbation of 1
        4: base2,
        5: base2.replace("patience", "calmness"),  # near perturbation of 4
        6: GOOD.replace("forest", "desert").replace("songs", "tunes")
        + " with several extra closing tokens appended here to drift the vote",
    }
    # the dd08 ground truth runs on the SAME quality-surviving corpus
    docs = spark.createDataFrame(
        [(i, t, "en", "src1", len(t)) for i, t in sorted(texts.items())],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    )
    bdir = tmp_path / "batchtbl"
    docs.write.parquet(str(bdir / "documents.parquet"))
    pairs = {
        (r.a_id, r.b_id)
        for r in dd08_simhash_neardup(spark, str(bdir)).collect()
    }
    assert any(p in pairs for p in [(1, 2)]), pairs  # byte-dup must pair
    expected_dropped = {b for a, b in pairs}

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    _write_ndjson(
        landing / "b1.json",
        [
            _doc(i, texts[i], ts=f"2026-08-13T10:00:{i:02d}")
            for i in sorted(texts)
        ],
    )

    got: list[dict] = []

    def sink(batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    q = start_neardup_ingest_query(spark, str(landing), str(ckpt), sink)
    q.awaitTermination(120)
    survivors = {r["doc_id"] for r in got}
    assert survivors == set(texts) - expected_dropped, (
        survivors,
        expected_dropped,
        pairs,
    )

    # resume within the horizon: a near-dup re-ingest of doc 1 must be
    # dropped against CHECKPOINTED state; a genuinely new doc flows
    _write_ndjson(
        landing / "b2.json",
        [
            _doc(7, texts[3], ts="2026-08-13T10:10:00"),  # near-dup replay
            _doc(8, base2.upper(), ts="2026-08-13T10:10:01"),  # case-flip near-dup of 4
            _doc(
                9,
                "completely different content about boats engines and tides "
                "with enough ordinary words to pass every quality rule while "
                "sharing almost no vocabulary with the other documents in "
                "this little fixture corpus today",
                ts="2026-08-13T10:10:02",
            ),
        ],
    )
    q2 = start_neardup_ingest_query(spark, str(landing), str(ckpt), sink)
    q2.awaitTermination(120)
    new_ids = {r["doc_id"] for r in got} - survivors
    assert 7 not in new_ids, "near-dup replay escaped the checkpointed state"
    assert 9 in new_ids, "fresh doc was dropped"


def test_neardup_state_ages_out_past_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics for the near-dup stage:
    a signature older than the watermark can no longer suppress — a
    byte-identical re-ingest lands AFTER the horizon and must re-emit
    (state aged out), while one within the horizon stays suppressed."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
        start_neardup_ingest_query,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    got: list[dict] = []

    def sink(batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    _write_ndjson(
        landing / "b1.json", [_doc(1, GOOD, ts="2026-08-13T10:00:00")]
    )
    q = start_neardup_ingest_query(
        spark, str(landing), str(ckpt), sink, horizon="10 minutes"
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in got} == {1}

    # batch 2 advances the watermark far past doc 1's signature (a
    # fresh doc at +2h drives the watermark), then batch 3 re-ingests
    # doc 1's exact text — by then the state must have aged out
    _write_ndjson(
        landing / "b2.json",
        [
            _doc(
                2,
                "entirely different filler about gardens stones rivers and "
                "weather with plenty of ordinary words to pass every rule "
                "while sharing very little vocabulary with the first text "
                "in this fixture so it cannot collide in any band",
                ts="2026-08-13T12:00:00",
            )
        ],
    )
    q2 = start_neardup_ingest_query(
        spark, str(landing), str(ckpt), sink, horizon="10 minutes"
    )
    q2.awaitTermination(120)
    _write_ndjson(
        landing / "b3.json", [_doc(3, GOOD, ts="2026-08-13T12:00:01")]
    )
    q3 = start_neardup_ingest_query(
        spark, str(landing), str(ckpt), sink, horizon="10 minutes"
    )
    q3.awaitTermination(120)
    ids = {r["doc_id"] for r in got}
    assert 2 in ids, "the watermark-driving doc was dropped"
    assert 3 in ids, (
        "re-ingest past the horizon stayed suppressed — state did not age out"
    )


def test_null_event_time_rows_are_quarantined(spark, tmp_path):
    """A row with NULL ingest_ts has undefined watermark semantics —
    both dedupe stages must drop it like a malformed line, not feed it
    to the state store."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
        start_ingest_query,
        start_neardup_ingest_query,
    )

    for starter, sub in (
        (start_ingest_query, "exact"),
        (start_neardup_ingest_query, "near"),
    ):
        landing = tmp_path / f"landing_{sub}"
        landing.mkdir()
        rows = [
            _doc(1, GOOD),
            {**_doc(2, GOOD + " and a few extra distinct closing words here"),
             "ingest_ts": None},
        ]
        _write_ndjson(landing / "b.json", rows)
        got: list[dict] = []

        def sink(batch_df, batch_id):
            got.extend(r.asDict() for r in batch_df.collect())

        q = starter(spark, str(landing), str(tmp_path / f"ckpt_{sub}"), sink)
        q.awaitTermination(120)
        assert [r["doc_id"] for r in got] == [1], (sub, got)


def test_late_row_does_not_kill_the_neardup_query(spark, tmp_path):
    """A replayed landing file older than the watermark must never be
    able to push a bucket's event-time timeout below the watermark (an
    IllegalArgumentException that terminates the query) — the timeout
    is clamped above the watermark as defense in depth. Observed
    engine behavior (pinned here): Spark's stateful-operator late-row
    filter silently DROPS the late doc before the operator, standard
    watermark semantics — the query survives and emits nothing for
    it."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
        start_neardup_ingest_query,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    got: list[dict] = []

    def sink(batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    _write_ndjson(landing / "b1.json", [_doc(1, GOOD, ts="2026-08-13T10:00:00")])
    q = start_neardup_ingest_query(
        spark, str(landing), str(ckpt), sink, horizon="10 minutes"
    )
    q.awaitTermination(120)
    # advance the watermark far past b1, then replay a LATE near-dup
    _write_ndjson(
        landing / "b2.json",
        [
            _doc(
                2,
                "fresh filler about deserts camels and starry skies with "
                "plenty of ordinary words to pass every quality rule while "
                "sharing almost no vocabulary with the first document here",
                ts="2026-08-13T12:00:00",
            )
        ],
    )
    q2 = start_neardup_ingest_query(
        spark, str(landing), str(ckpt), sink, horizon="10 minutes"
    )
    q2.awaitTermination(120)
    _write_ndjson(
        landing / "b3.json", [_doc(3, GOOD, ts="2026-08-13T10:05:00")]
    )  # LATE: watermark is ~11:50
    q3 = start_neardup_ingest_query(
        spark, str(landing), str(ckpt), sink, horizon="10 minutes"
    )
    q3.awaitTermination(120)  # raises StreamingQueryException on crash
    assert 3 not in {r["doc_id"] for r in got}, (
        "late row escaped the watermark filter"
    )
    # and the state machinery is still alive: an on-time doc flows
    _write_ndjson(
        landing / "b4.json",
        [
            _doc(
                4,
                "another ordinary document about rivers bridges and towns "
                "using plain simple words so that it passes each of the "
                "quality rules while keeping its own distinct vocabulary "
                "for this final check of the streaming state today",
                ts="2026-08-13T12:00:05",
            )
        ],
    )
    q4 = start_neardup_ingest_query(
        spark, str(landing), str(ckpt), sink, horizon="10 minutes"
    )
    q4.awaitTermination(120)
    assert 4 in {r["doc_id"] for r in got}, "stream died after the late row"


def test_interval_ms_accepts_sparks_interval_grammar():
    """ADVICE r05: any horizon string curated_stream's withWatermark
    accepts must also parse here — compound multi-unit terms and the
    ms/week units included. Variable-length units stay rejected (no
    fixed millisecond value)."""
    import pytest

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
        _interval_ms,
    )

    assert _interval_ms("1 hour") == 3_600_000
    assert _interval_ms("90 minutes 30 seconds") == 90 * 60_000 + 30_000
    assert _interval_ms("500 milliseconds") == 500
    assert _interval_ms("2 weeks 1 day") == 2 * 604_800_000 + 86_400_000
    assert _interval_ms(" 10  Minutes ") == 600_000
    for bad in ("1 month", "3 years", "soon", "10", "minutes 10"):
        with pytest.raises(ValueError):
            _interval_ms(bad)


def test_state_partitions_knob_is_semantics_free(spark, tmp_path):
    """``state_partitions`` sizes the state store at first start — it
    must change ONLY the physical partition count: same survivors as
    the default, the session's shuffle-partition conf restored after
    .start(), and the baked count honored on checkpoint resume."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.corpus_ingest import (
        start_neardup_ingest_query,
    )

    texts = {
        1: GOOD,
        2: GOOD,  # byte-dup -> dropped
        3: GOOD.replace("quick", "rapid"),  # perturbed (may or may not pair)
    }
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_ndjson(
        landing / "b1.json",
        [_doc(i, texts[i], ts=f"2026-08-13T10:00:{i:02d}") for i in sorted(texts)],
    )

    def drain(ckpt, n):
        got = []
        q = start_neardup_ingest_query(
            spark, str(landing), str(ckpt),
            sink=lambda df, _b: got.extend(r.doc_id for r in df.collect()),
            state_partitions=n,
        )
        q.awaitTermination(120)
        return set(got)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    default = drain(tmp_path / "ck_default", None)
    sized = drain(tmp_path / "ck_sized", 2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert 2 not in default, "byte-dup escaped"
    assert sized == default, (sized, default)

    # resume on the sized checkpoint: Spark keeps the baked count; a
    # fresh doc must still flow (i.e. the resume is not poisoned by the
    # session conf differing from the checkpoint's state partitioning)
    _write_ndjson(
        landing / "b2.json",
        [
            _doc(
                4,
                "completely different content about boats engines and tides "
                "with enough ordinary words to pass every quality rule while "
                "sharing almost no vocabulary with the other documents in "
                "this little fixture corpus today",
                ts="2026-08-13T10:05:00",
            )
        ],
    )
    resumed = drain(tmp_path / "ck_sized", None)
    assert resumed == {4}, resumed

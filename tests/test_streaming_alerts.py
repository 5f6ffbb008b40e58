"""End-to-end Structured Streaming test for the ST1–ST7 alert engine.

NDJSON landing files → file-source stream → filter/dedupe/format →
foreachBatch collector, run with Trigger.AvailableNow (the cron-style
micro-batch of run_pipeline.sh) + a restart to prove checkpoint resume.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.alerts import (
    start_alert_query,
    windowed_alert_counts,
    read_listing_stream,
)


def _listing(i, risk, ts, slug="item-slug", dup=None):
    return {
        "id": dup or f"it{i}",
        "title": f"Listing {i}",
        "web_slug": slug,
        "risk_score": risk,
        "risk_factors": ["Very Low Price vs Market (Z=-2.10)", "External Contact"],
        "crawl_timestamp": ts,
    }


def _write_ndjson(path, rows):
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def _fresh_ts(minutes: int = 0) -> str:
    """A crawl timestamp ``minutes`` after a base anchored one hour
    before the test RUNS — tests exercising the ST4 staleness sink
    (start_alert_query's fresh_only, a current_timestamp() compare)
    must never hard-code dates: a literal that was 'fresh' when the
    test was written silently crosses the 2-day limit and every alert
    drops (this happened — the r08 time bomb)."""
    base = datetime.now() - timedelta(hours=1)
    return (base + timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%S")


def test_alert_stream_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    now = _fresh_ts()
    stale = "2020-01-01T00:00:00"
    _write_ndjson(
        landing / "batch1.json",
        [
            _listing(1, 95, now),
            _listing(2, 40, now),  # below threshold -> dropped
            _listing(3, 85, now, dup="it1"),  # same id -> deduped (ST6)
            _listing(4, 99, stale),  # older than 2 days -> ST4 drops at sink
        ],
    )

    got: list[dict] = []

    def sink(batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    q = start_alert_query(spark, str(landing), str(ckpt), sink, available_now=True)
    q.awaitTermination(120)

    assert len(got) == 1, got
    alert = got[0]
    assert alert["id"] == "it1"
    assert alert["subject"] == "FRAUD ALERT (risk 95): Listing 1"
    assert "https://es.wallapop.com/item/item-slug" in alert["body"]
    assert "External Contact" in alert["body"]

    # checkpoint resume (ST7): new file, old rows must not re-fire
    _write_ndjson(landing / "batch2.json", [_listing(5, 90, now)])
    q2 = start_alert_query(spark, str(landing), str(ckpt), sink, available_now=True)
    q2.awaitTermination(120)
    assert sorted(a["id"] for a in got) == ["it1", "it5"]


def test_windowed_frequency_general_form(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        _listing(1, 90, "2026-08-13T10:01:00"),
        _listing(2, 90, "2026-08-13T10:04:00"),  # same 10-min window
        _listing(3, 90, "2026-08-13T10:15:00"),  # next window, alone
    ]
    _write_ndjson(landing / "b.json", rows)

    stream = read_listing_stream(spark, str(landing))
    counts = windowed_alert_counts(stream, num_events=2)
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("winalerts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r.window_start.minute: r.n for r in spark.sql("select * from winalerts").collect()}
    assert out == {0: 2}  # only the 10:00-10:10 window reaches num_events=2


def test_realert_suppression_stateful(spark, tmp_path):
    """Faithful ST6: same-id matches inside the realert window are
    suppressed; a match after the window re-fires; state survives a
    checkpointed restart."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.alerts import (
        realert_suppressed,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_ndjson(
        landing / "b1.json",
        [
            _listing(1, 90, "2026-08-13T10:00:00"),            # fires
            _listing(2, 91, "2026-08-13T10:05:00", dup="it1"),  # +5m suppressed
            _listing(3, 92, "2026-08-13T10:40:00", dup="it1"),  # +40m re-fires
            _listing(4, 93, "2026-08-13T10:00:00"),            # other key fires
        ],
    )

    rows: list[tuple] = []

    def run():
        stream = read_listing_stream(spark, str(landing))

        def sink(batch_df, batch_id):
            rows.extend(
                (r.id, r.crawl_timestamp.isoformat(), r.risk_score)
                for r in batch_df.collect()
            )

        q = (
            realert_suppressed(stream, realert_minutes=30)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert sorted(rows) == [
        ("it1", "2026-08-13T10:00:00", 90),
        ("it1", "2026-08-13T10:40:00", 92),
        ("it4", "2026-08-13T10:00:00", 93),
    ]

    # restart: state restored from checkpoint — 10:50 still inside the
    # window opened at 10:40 (suppressed), 11:30 re-fires
    _write_ndjson(
        landing / "b2.json",
        [
            _listing(5, 94, "2026-08-13T10:50:00", dup="it1"),
            _listing(6, 95, "2026-08-13T11:30:00", dup="it1"),
        ],
    )
    run()
    fired = [(i, ts) for i, ts, _ in rows]
    assert ("it1", "2026-08-13T11:30:00") in fired
    assert ("it1", "2026-08-13T10:50:00") not in fired


def test_realert_state_ages_out(spark, tmp_path):
    """Bounded state (the 100-TB posture): once the watermark passes
    last_fired + realert for an id, the id leaves the state — the ids
    held in state must NOT grow monotonically with distinct item ids."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.alerts import (
        realert_suppressed,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    rows: list[str] = []
    held: list[list[str]] = []

    def run():
        stream = read_listing_stream(spark, str(landing))

        def sink(batch_df, batch_id):
            rows.extend(r.id for r in batch_df.collect())

        q = (
            realert_suppressed(stream, realert_minutes=30)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        state = spark.read.format("statestore").load(ckpt).collect()
        held.append(sorted(i for r in state for i in r.value.groupState.ids))

    # two keys fire at 10:00 -> held until the watermark passes 10:30
    _write_ndjson(
        landing / "a.json",
        [_listing(1, 90, "2026-08-13T10:00:00"), _listing(2, 90, "2026-08-13T10:00:00")],
    )
    run()
    # a fresh key at 11:30 advances the watermark to 11:15 (> 10:30)
    _write_ndjson(landing / "b.json", [_listing(3, 90, "2026-08-13T11:30:00")])
    run()
    # the next data batch runs under wm=11:15: it1/it2 age out
    _write_ndjson(landing / "c.json", [_listing(4, 90, "2026-08-13T11:40:00")])
    run()

    assert sorted(rows) == ["it1", "it2", "it3", "it4"]  # each fired once
    # the proof the store SHRINKS, not merely ends small
    assert held == [["it1", "it2"], ["it1", "it2", "it3"], ["it3", "it4"]], held


def test_alert_stream_with_realert_layer(spark, tmp_path):
    """The full composed pipeline with the faithful ElastAlert realert
    operator: same id suppressed inside the window, re-fires after it,
    state restored from the checkpoint between runs."""
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    got: list[dict] = []

    def sink(batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    def run():
        q = start_alert_query(
            spark, str(landing), str(ckpt), sink,
            available_now=True, realert_minutes=30,
        )
        q.awaitTermination(120)

    _write_ndjson(
        landing / "a.json",
        [_listing(1, 95, _fresh_ts(0)),
         _listing(2, 95, _fresh_ts(10), dup="it1")],  # inside window
    )
    run()
    assert [a["id"] for a in got] == ["it1"]
    assert got[0]["subject"].startswith("FRAUD ALERT (risk 95)")

    # same key past the realert window -> re-fires (checkpointed state)
    _write_ndjson(
        landing / "b.json", [_listing(3, 95, _fresh_ts(45), dup="it1")]
    )
    run()
    assert [a["id"] for a in got] == ["it1", "it1"]
    assert len({a["crawl_timestamp"] for a in got}) == 2


def test_realert_suppression_is_timezone_independent(spark, tmp_path):
    """Regression: the realert timeout clamp mixes event-derived
    milliseconds with getCurrentWatermarkMs(), so event epoch-ms MUST
    be computed JVM-side (unix_micros) — pandas int64 on a
    session-localized naive timestamp is shifted by the session
    timezone. Under a tz behind UTC the old code registered timeouts
    hours in the past (always clamped to watermark+1), so the
    suppression state aged out on the next watermark advance and a
    duplicate inside the realert window RE-FIRED. Same scenario as the
    UTC test, run under America/New_York."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.alerts import (
        read_listing_stream,
        realert_suppressed,
    )

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        landing = tmp_path / "landing"
        landing.mkdir()
        ckpt = str(tmp_path / "ckpt")
        rows: list[tuple] = []

        def run():
            stream = read_listing_stream(spark, str(landing))

            def sink(batch_df, batch_id):
                rows.extend(
                    (r.id, r.crawl_timestamp.isoformat(), r.risk_score)
                    for r in batch_df.collect()
                )

            q = (
                realert_suppressed(stream, realert_minutes=30)
                .writeStream.outputMode("append")
                .option("checkpointLocation", ckpt)
                .foreachBatch(sink)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        _write_ndjson(
            landing / "b1.json",
            [
                _listing(1, 90, "2026-08-13T10:00:00"),
                _listing(2, 91, "2026-08-13T10:05:00", dup="it1"),
                _listing(3, 92, "2026-08-13T10:40:00", dup="it1"),
            ],
        )
        run()
        # restart within the 10:40 window: the checkpointed state must
        # still suppress — premature state aging here is the tz bug
        _write_ndjson(
            landing / "b2.json",
            [
                _listing(5, 94, "2026-08-13T10:50:00", dup="it1"),
                _listing(6, 95, "2026-08-13T11:30:00", dup="it1"),
            ],
        )
        run()
        # assert on risk scores (rendered timestamps shift with the
        # session tz; the id→score mapping is unambiguous): 90 fires,
        # 91 suppressed (+5m), 92 re-fires (+40m), 94 suppressed
        # (restart +10m inside the window — premature state aging here
        # IS the tz bug), 95 re-fires (+50m)
        fired_scores = sorted(s for i, _, s in rows if i == "it1")
        assert fired_scores == [90, 92, 95], (
            f"realert verdicts changed under a non-UTC session: {fired_scores}"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)

"""ST6 realert operator on degenerate input, against a pure-Python
replay of the rule, plus a tripwire on its micro-batch shape.

Each ``_Drain.run`` lands one NDJSON file and restarts an
``AvailableNow`` query on the same checkpoint, so every batch after
the first also exercises state restore.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.alerts import (
    high_risk_matches,
    read_listing_stream,
    realert_suppressed,
    start_alert_query,
)

REALERT = timedelta(minutes=30)
BUFFER = timedelta(minutes=15)
T0 = datetime(2026, 8, 13, 10, 0)


def _event(title, iid, ts, risk=90):
    return {
        "id": iid,
        "title": title,
        "web_slug": f"slug-{title}",
        "risk_score": risk,
        "risk_factors": ["External Contact"],
        "crawl_timestamp": None if ts is None else ts.isoformat(timespec="milliseconds"),
    }


class _Drain:
    """high_risk_matches → realert_suppressed (``start_alert_query``'s
    chain minus formatting and the wall-clock staleness filter), one
    restarted AvailableNow query per landed file."""

    def __init__(self, spark, tmp_path):
        self.spark = spark
        self.landing = tmp_path / "landing"
        self.landing.mkdir()
        self.ckpt = str(tmp_path / "ckpt")
        self.files = 0

    def run(self, events) -> set[tuple]:
        self.files += 1
        path = self.landing / f"b{self.files:03d}.json"
        path.write_text("".join(json.dumps(e) + "\n" for e in events))
        fired: list[tuple] = []

        def sink(batch_df, batch_id):
            fired.extend((r.id, r.title) for r in batch_df.collect())

        stream = high_risk_matches(read_listing_stream(self.spark, str(self.landing)))
        q = (
            realert_suppressed(stream, realert_minutes=30)
            .writeStream.outputMode("append")
            .option("checkpointLocation", self.ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        assert len(fired) == len(set(fired)), fired  # titles are unique
        return set(fired)


def _replay(batches, buffer=BUFFER) -> set[str]:
    """Pure-Python ST1/ST6 rule under Spark's watermark. Per id, a
    match (risk >= 80) fires when no earlier alert for that id lies
    within the realert window; each batch is taken in event-time order
    with state carried across batches. A batch drops matches at or
    behind the watermark, which is the latest match time of the earlier
    batches minus the buffer (the epoch before any)."""
    last: dict[str, datetime] = {}
    fired: set[str] = set()
    wm = datetime(1970, 1, 1)
    for batch in batches:
        hits = [
            (e["_ts"], e["id"], e["title"]) for e in batch if e["risk_score"] >= 80
        ]
        for ts, iid, title in sorted(h for h in hits if h[0] > wm):
            prev = last.get(iid)
            if prev is None or ts >= prev + REALERT:
                fired.add(title)
                last[iid] = ts
        wm = max([wm] + [ts - buffer for ts, _, _ in hits])
    return fired


def test_late_rows_and_the_watermark_boundary(spark, tmp_path):
    drain = _Drain(spark, tmp_path)
    at = datetime(2026, 8, 13, 11, 30)
    assert drain.run([_event("w", "w", at)]) == {("w", "w")}
    # the batch at 11:30 moved the watermark to 11:15: a row at or
    # behind it is late and never fires, a millisecond past it fires
    wm = at - BUFFER
    fired = drain.run([
        _event("late", "a", T0),
        _event("edge", "b", wm),
        _event("ok", "c", wm + timedelta(milliseconds=1)),
    ])
    assert fired == {("c", "ok")}


def test_null_id_is_its_own_key(spark, tmp_path):
    drain = _Drain(spark, tmp_path)
    fired = drain.run([
        _event("n0", None, T0),
        _event("n10", None, T0 + timedelta(minutes=10)),
        _event("n40", None, T0 + timedelta(minutes=40)),
        _event("x10", "x", T0 + timedelta(minutes=10)),
    ])
    assert fired == {(None, "n0"), (None, "n40"), ("x", "x10")}


def test_null_timestamp_still_fires(spark, tmp_path):
    drain = _Drain(spark, tmp_path)
    fired = drain.run([_event("nt", "itx", None), _event("y", "y", T0)])
    assert fired == {("itx", "nt"), ("y", "y")}


def test_several_refires_of_one_id_in_one_batch(spark, tmp_path):
    drain = _Drain(spark, tmp_path)
    minutes = [0, 20, 30, 59, 60, 105, 106]  # +30 exactly re-fires
    events = [_event(f"m{m}", "r", T0 + timedelta(minutes=m)) for m in minutes]
    random.Random(7).shuffle(events)  # the operator sorts, not the input
    fired = drain.run(events)
    assert fired == {("r", "m0"), ("r", "m30"), ("r", "m60"), ("r", "m105")}


def test_empty_file_between_batches(spark, tmp_path):
    drain = _Drain(spark, tmp_path)
    assert drain.run([_event("e0", "e", T0)]) == {("e", "e0")}
    assert drain.run([]) == set()
    # state survived the empty batch: +10m is still suppressed
    fired = drain.run([
        _event("e10", "e", T0 + timedelta(minutes=10)),
        _event("e31", "e", T0 + timedelta(minutes=31)),
    ])
    assert fired == {("e", "e31")}


def test_seeded_batches_across_restarts_match_replay(spark, tmp_path):
    rng = random.Random(20261017)
    drain = _Drain(spark, tmp_path)
    batches, got = [], set()
    n = 0
    for b in range(5):
        batch = []
        for _ in range(30):
            # each batch covers 40 minutes; about a third of the rows
            # arrive up to 45 minutes late, so some fall behind the
            # 15-minute watermark
            late = timedelta(minutes=rng.uniform(0, 45)) if rng.random() < 0.35 else timedelta(0)
            ts = T0 + timedelta(minutes=40 * (b + rng.random())) - late
            ts = ts.replace(microsecond=ts.microsecond // 1000 * 1000)
            e = _event(f"e{n}", f"it{rng.randrange(12)}", ts, risk=rng.choice([40, 79, 80, 95]))
            batch.append({**e, "_ts": ts})
            n += 1
        batches.append(batch)
        got |= {title for _, title in drain.run(
            [{k: v for k, v in e.items() if k != "_ts"} for e in batch]
        )}
    want = _replay(batches)
    assert got == want, (sorted(got - want), sorted(want - got))
    # the seed exercises re-fires, suppression and late-row drops
    assert len(want) > 30
    assert len(want) < sum(e["risk_score"] >= 80 for b in batches for e in b)
    assert want != _replay(batches, buffer=timedelta(days=36500))


def test_available_now_drain_is_one_timer_free_batch(spark, tmp_path, capsys):
    """Tripwire: the realert drain runs as ONE micro-batch with no
    event-time timeout. A timer brings back the per-task timeout pass
    and the no-data batch Spark schedules when the watermark moves."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text(
        "".join(
            json.dumps(_event(f"t{i}", f"it{i % 3}", datetime(2090, 1, 1, 10, i))) + "\n"
            for i in range(6)
        )
    )
    q = start_alert_query(
        spark, str(landing), str(tmp_path / "ckpt"), lambda df, i: df.collect(),
        available_now=True, realert_minutes=30,
    )
    q.awaitTermination(120)
    progress = q.recentProgress
    assert [p["numInputRows"] for p in progress] == [6], progress
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    assert "FlatMapGroupsInPandasWithState" in plan and "NoTimeout" in plan, plan

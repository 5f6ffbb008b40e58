"""Streaming alert engine (SURVEY §2.9 ST1–ST7).

Reproduces the reference's ElastAlert frequency rule + scheduler
semantics (``elastalert/rules/high_risk.yaml:1-42``,
``elastalert/config.yaml:14-24``) as one Structured Streaming job:

- ST1: ≥ ``num_events`` docs matching ``risk_score >= threshold``
  within a 10-minute tumbling window on event time.
- ST2: evaluation cadence → processing-time trigger (or AvailableNow
  for the cron-style micro-batch of ``run_pipeline.sh:64-100``).
- ST3: 15-minute late-data buffer → watermark.
- ST4: 2-day alert staleness limit → sink-side filter.
- ST5: templated subject/body (X23 item URL) → formatted alert columns;
  delivery (smtplib in the reference) stays outside the engine.
- ST6: fired-alert dedupe (writeback index) → ``dropDuplicates`` under
  the watermark + exactly-once checkpointing.
- ST7: session continuation / autosave → checkpointLocation.

Scale: the windowed count and the ``dedupe`` keys are bounded by the
watermark and partition by key/window. The realert operator keeps ONE
state row for the whole query: the ids that fired within realert +
buffer (45 minutes) of the newest event, so at most the 5,000-listing
poll cap per poll landing in that span. It runs one vectorized Python
call per micro-batch on one task, with no timers, so a drain is one
micro-batch; a load that outgrows one core there would shard the
constant group key by an id hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Minimal alert-input schema (the enriched-listing fields the rule reads).
ALERT_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("web_slug", T.StringType()),
        T.StructField("risk_score", T.IntegerType()),
        T.StructField("risk_factors", T.ArrayType(T.StringType())),
        T.StructField("crawl_timestamp", T.TimestampType()),
    ]
)

RISK_THRESHOLD = 80  # high_risk.yaml:11-14
NUM_EVENTS = 1  # high_risk.yaml:4
WINDOW = "10 minutes"  # high_risk.yaml:5-7 (timeframe)
BUFFER = "15 minutes"  # config.yaml:18-20 (buffer_time → watermark)
STALENESS = "2 days"  # config.yaml:23-24 (alert_time_limit)


def read_listing_stream(
    spark: SparkSession, landing_dir: str, schema: T.StructType = ALERT_INPUT_SCHEMA
) -> DataFrame:
    """S1 streaming form: file source over the NDJSON landing zone the
    batch poller writes (reference ``poller/poller.py:729-754``)."""
    return spark.readStream.schema(schema).json(landing_dir)


def high_risk_matches(stream: DataFrame, threshold: int = RISK_THRESHOLD) -> DataFrame:
    """ST1 stateless core: with num_events=1 the frequency rule reduces
    to a filter (no state at all) — the general windowed form below
    covers num_events > 1."""
    return stream.filter(F.col("risk_score") >= threshold)


def windowed_alert_counts(
    stream: DataFrame,
    threshold: int = RISK_THRESHOLD,
    num_events: int = NUM_EVENTS,
    window: str = WINDOW,
    buffer: str = BUFFER,
) -> DataFrame:
    """ST1 general form: tumbling event-time window + watermark; fires
    when ≥ num_events matches land in one window."""
    return (
        stream.withWatermark("crawl_timestamp", buffer)
        .filter(F.col("risk_score") >= threshold)
        .groupBy(F.window("crawl_timestamp", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= num_events)
        .select(F.col("w.start").alias("window_start"), "n")
    )


def deduped_alerts(stream: DataFrame, buffer: str = BUFFER) -> DataFrame:
    """ST6 (simple form): one alert per item id within the watermark
    horizon — watermarked dropDuplicates. See ``realert_suppressed``
    for the faithful ElastAlert realert semantics."""
    return stream.withWatermark("crawl_timestamp", buffer).dropDuplicates(["id"])


#: ElastAlert default realert window (SURVEY §7 hard part 5).
REALERT_MINUTES = 30


def realert_suppressed(
    stream: DataFrame,
    realert_minutes: int = REALERT_MINUTES,
    buffer: str = BUFFER,
) -> DataFrame:
    """ST6 (faithful form): ElastAlert's writeback-index realert rule —
    after an alert fires for a key, further matches for the SAME key are
    suppressed until ``realert`` time has passed, measured in event
    time; a later match re-fires and restarts the window.

    Custom stateful operator via ``applyInPandasWithState`` on a
    constant key: each micro-batch is ONE call over all its rows, and
    the state is ONE row ``(ids, last_us)`` — every id still able to
    suppress, with its last fired event time — restored from the
    checkpoint on restart, the twin of the reference's writeback index
    (``elastalert/config.yaml:11``). The call sorts the batch by (id,
    event time) with one ``lexsort`` and walks each id's run with
    ``searchsorted``: O(fired) steps per id, no per-row Python loop.

    No timers (``GroupStateTimeout.NoTimeout``): the operator runs no
    timeout pass and Spark schedules no no-data batch when the
    watermark moves, so an ``AvailableNow`` drain is one micro-batch.
    Without an event-time timeout Spark does not drop late rows for
    this operator, so the call drops rows at or behind the watermark
    itself, the same rule as Spark's late-row filter.

    State is BOUNDED: every data batch evicts the ids whose
    ``last + realert`` is at or below the watermark. Such an id can no
    longer suppress anything, since any on-time event clears its window
    anyway; this mirrors ElastAlert aging entries out of its writeback
    index. The state holds only the ids whose window is still open at
    the batch's watermark, whatever the job's lifetime.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("web_slug", T.StringType()),
            T.StructField("risk_score", T.IntegerType()),
            T.StructField("risk_factors", T.ArrayType(T.StringType())),
            T.StructField("crawl_timestamp", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.StringType())),
            T.StructField("last_us", T.ArrayType(T.LongType())),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    realert_us = realert_minutes * 60 * 1_000_000

    def fire(key, pdf_iter, state: GroupState):
        # ev_us is TRUE epoch µs computed JVM-side (unix_micros):
        # pandas int64 on a session-localized naive timestamp is
        # shifted by the session timezone, which must never mix with
        # getCurrentWatermarkMs()
        wm_us = state.getCurrentWatermarkMs() * 1000
        last = dict(zip(*state.get)) if state.exists else {}
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        # late rows go; a null event time compares False and stays
        pdf = pdf[~(pdf["ev_us"] <= wm_us)]
        ts = pdf["ev_us"].to_numpy(dtype=np.int64)
        codes, uniques = pd.factorize(pdf["id"], use_na_sentinel=False)
        ids = np.asarray(uniques, dtype=object)
        ids[pd.isna(ids)] = None  # a null id is its own key
        order = np.lexsort((ts, codes))
        ts, codes = ts[order], codes[order]
        starts = np.flatnonzero(np.diff(codes, prepend=-1))
        fired: list[int] = []
        for s, e in zip(starts, [*starts[1:], len(codes)]):
            run = ts[s:e]
            iid = ids[codes[s]]
            prev = last.get(iid)
            i = 0 if prev is None else int(np.searchsorted(run, prev + realert_us))
            while i < len(run):
                fired.append(s + i)
                prev = int(run[i])
                i = int(np.searchsorted(run, prev + realert_us))
            if prev is not None:
                last[iid] = prev
        last = {k: v for k, v in last.items() if v + realert_us > wm_us}
        if last:
            state.update((list(last), list(last.values())))
        elif state.exists:
            state.remove()
        yield pdf.iloc[order[fired]][out_cols]

    return (
        stream.withWatermark("crawl_timestamp", buffer)
        .select(
            "*",
            F.unix_micros(F.col("crawl_timestamp")).alias("ev_us"),
            F.lit(0).alias("batch"),  # one group: the whole micro-batch
        )
        .groupBy("batch")
        .applyInPandasWithState(
            fire,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def format_alerts(matches: DataFrame) -> DataFrame:
    """ST5 + X23: the engine-side deliverable — subject/body columns
    rendered exactly like the rule template (high_risk.yaml:34-42)."""
    url = F.concat(F.lit("https://es.wallapop.com/item/"), F.col("web_slug"))
    return matches.select(
        "id",
        "crawl_timestamp",
        F.format_string(
            "FRAUD ALERT (risk %d): %s", F.col("risk_score"), F.col("title")
        ).alias("subject"),
        F.concat_ws(
            "\n",
            F.concat(F.lit("Risk factors: "), F.concat_ws("; ", F.col("risk_factors"))),
            F.concat(F.lit("Item: "), url),
        ).alias("body"),
    )


def fresh_only(batch_df: DataFrame, staleness: str = STALENESS) -> DataFrame:
    """ST4 sink-side filter: drop alerts older than the staleness limit
    at delivery time (applied inside foreachBatch, where wall-clock is
    the correct reference point)."""
    return batch_df.filter(
        F.col("crawl_timestamp") >= F.current_timestamp() - F.expr(f"INTERVAL {staleness}")
    )


def start_alert_query(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink,
    trigger_interval: str | None = "1 minute",
    available_now: bool = False,
    realert_minutes: int | None = None,
):
    """Wire the full ST1–ST6 pipeline and start it.

    ``sink(batch_df, batch_id)`` receives the formatted, deduped,
    fresh alerts per micro-batch (the reference emails here; tests
    collect). ``available_now=True`` gives the cron-style catch-up run
    (S9); otherwise a processing-time trigger gives ST2's cadence.

    ``realert_minutes`` selects the suppression layer: ``None`` gives
    the simple one-alert-per-id watermarked dedupe; a value composes
    the faithful ElastAlert realert operator instead (same key re-fires
    after the window — the reference's production behavior, writeback
    state in the checkpoint)."""
    stream = read_listing_stream(spark, landing_dir)
    matches = high_risk_matches(stream)
    suppressed = (
        deduped_alerts(matches)
        if realert_minutes is None
        else realert_suppressed(matches, realert_minutes=realert_minutes)
    )
    alerts = format_alerts(suppressed)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sink(fresh_only(batch_df), batch_id)

    writer = (
        alerts.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()

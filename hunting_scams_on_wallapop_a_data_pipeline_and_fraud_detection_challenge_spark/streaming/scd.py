"""Streaming SCD Type-2 change capture — the unbounded twin of the
batch ``cdc02_scd2_intervals`` recipe (CDC-SCD2 family, streaming
form).

SURVEY §2.9 notes the reference has no stateful change capture; this
module is the beyond-the-reference streaming operator a dimension
pipeline needs for continuous ingestion: per key, maintain the OPEN
attribute interval in state and emit a CLOSED interval row the moment
the attribute changes — the streaming complement of the batch twin's
lag/lead window build (closed streaming emissions ≡ the batch twin's
``valid_to IS NOT NULL`` rows on the same in-order input, pinned by
tests/test_streaming_scd.py).

Semantics vs the batch twin (documented, not hidden):

- Only CLOSED intervals emit (append semantics — the open interval is
  state, exactly like ST8 sessions emit only watermark-closed
  sessions); the batch twin also reports the open interval with
  ``valid_to NULL``.
- Rows arriving BEHIND a key's processed frontier (late, out of order
  across micro-batches) are dropped, not retro-spliced — SCD2 splicing
  history would rewrite already-emitted intervals, which append mode
  cannot do. Within a micro-batch, rows sort by (event time, event_id)
  — the batch twin's total order.
- The frontier is the PAIR (event time, event_id) of the last
  processed row, so an exact-frontier replay (same ts, same event_id —
  a duplicate delivery) is dropped rather than re-processed, and a
  cross-batch tie at the frontier timestamp admits only event_ids
  ABOVE the frontier's — the batch twin's (ts, event_id) total order,
  minus the rows append mode can never splice back in (a tied row with
  a LOWER event_id arriving late is dropped like any other late row).

State-schema version: the per-key state is the 5-field layout
(cur_type, valid_from_us, frontier_us, frontier_eid, version) — r11
widened it from the 4-field r10 layout to carry the (ts, event_id)
frontier pair. Spark's state-store compatibility check REFUSES to
resume a checkpoint written by the old layout (StateSchemaNotCompatible
— a loud failure, never silent corruption); a pre-r11 checkpoint must
be discarded (or its history re-driven through cdc02 and re-seeded),
the standard operational cost of widening stateful-operator state.

Scale note (100 TB/day ingest): state is ONE fixed-width row per key
(current value, valid_from, frontier, version) — bounded by the live
key population, not by history; the shuffle keys on user_id (the batch
twin's single-shuffle contract). The per-batch work is a vectorized
numpy change-point scan, never a per-row Python loop. A production
deployment with an unbounded key universe adds an event-time
inactivity timeout to retire dormant keys (as the near-dup buckets in
``corpus_ingest.neardup_curated_stream`` do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: landing-file schema: the cdc02 event columns
EVENT_SCHEMA = "user_id long, event_id long, event_type string, ts timestamp"


def read_change_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """NDJSON event landing files as an unbounded file-source stream
    (the sessions/corpus_ingest landing pattern)."""
    return spark.readStream.schema(EVENT_SCHEMA).json(landing_dir)


def scd2_closed_intervals(stream: DataFrame) -> DataFrame:
    """Continuous SCD2: emit (key, value, valid_from_us, valid_to_us,
    version) for every attribute interval CLOSED by a later change.

    Custom stateful operator via ``applyInPandasWithState``: state per
    user = (current value, its valid_from, the processed event-time
    frontier, the version counter). Each micro-batch sorts its rows
    into the key's timeline, drops late rows behind the frontier, and
    emits one closed row per change point — version numbers continue
    across batches and restarts through the checkpointed state, so the
    emitted ledger is exactly the batch twin's closed-interval set.

    Timestamps travel as epoch-microsecond BIGINTs end to end (the
    w04/cdc02 rule: integer bins, no tz-shiftable conversions in the
    Python worker)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("valid_from_us", T.LongType()),
            T.StructField("valid_to_us", T.LongType()),
            T.StructField("version", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cur_type", T.StringType()),
            T.StructField("valid_from_us", T.LongType()),
            T.StructField("frontier_us", T.LongType()),
            T.StructField("frontier_eid", T.LongType()),
            T.StructField("version", T.LongType()),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    def _empty() -> pd.DataFrame:
        return pd.DataFrame({c: pd.Series(dtype="object") for c in out_cols})

    def capture(key, pdf_iter, state: GroupState):
        pdfs = [p for p in pdf_iter if len(p)]
        if not pdfs:
            yield _empty()
            return
        pdf = (
            (pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0])
            .sort_values(["ev_us", "event_id"], kind="stable")
            .reset_index(drop=True)
        )
        cur, vfrom, frontier, feid, ver = (
            state.get if state.exists else (None, None, None, None, 0)
        )
        if frontier is not None:
            # rows at or behind the processed (ts, event_id) frontier:
            # drop (see module docstring — append mode cannot
            # retro-splice history, and an exact-frontier replay is a
            # duplicate delivery, not a new change)
            ev = pdf["ev_us"].to_numpy(np.int64)
            eid = pdf["event_id"].to_numpy(np.int64)
            pdf = pdf[(ev > frontier) | ((ev == frontier) & (eid > feid))]
        if not len(pdf):
            yield _empty()
            return
        vals = pdf["event_type"].to_numpy(dtype=object)
        ts = pdf["ev_us"].to_numpy(np.int64)
        # change-point mask, seeded with the state's current value —
        # one vectorized compare, no per-row loop
        prev = np.roll(vals, 1)
        chg = vals != prev
        chg[0] = (cur is None) or (vals[0] != cur)
        idx = np.flatnonzero(chg)
        (uid,) = key
        rows = []
        if idx.size:
            if cur is not None:
                # the state's open interval closes at the first change
                rows.append((uid, cur, vfrom, int(ts[idx[0]]), ver))
            for k in range(idx.size - 1):
                i, j = int(idx[k]), int(idx[k + 1])
                rows.append(
                    (uid, str(vals[i]), int(ts[i]), int(ts[j]), ver + k + 1)
                )
            cur = str(vals[idx[-1]])
            vfrom = int(ts[idx[-1]])
            ver = ver + int(idx.size)
        last_eid = int(pdf["event_id"].to_numpy(np.int64)[-1])
        state.update((cur, int(vfrom), int(ts[-1]), last_eid, int(ver)))
        yield (
            pd.DataFrame(rows, columns=out_cols) if rows else _empty()
        )

    return (
        stream.withColumn("ev_us", F.unix_micros(F.col("ts")))
        .groupBy("user_id")
        .applyInPandasWithState(
            capture,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

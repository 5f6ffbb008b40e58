"""Streaming weighted-sample maintenance (ST16) — the unbounded twin
of the batch sk05 sampler: a weighted-without-replacement top-K sample
(Efraimidis-Spirakis priority keys) is MAINTAINED over the stream, the
classic distributed reservoir a training pipeline keeps over a
firehose it cannot afford to store.

The whole operator rests on the property sk05 CERTIFIES per run
(`merge_exact`): priorities are independent of partitioning, so
top-K(union) == top-K(top-K's) — the K-row sample is mergeable state
exactly like sk02's registers. Each micro-batch therefore folds as:
batch priorities (the SHARED `sk05_priority_cols` definition — one
source of truth, the ST10/ST15 sharing pattern) -> batch top-K
(delta-sized TakeOrdered) -> union with the stored K rows -> per-item
dedup (a re-observed item keeps its best draw and ONE slot) ->
re-top-K -> commit. State is K rows FOREVER, per-batch work is
delta-sized.

The sample folds through the shared fenced cycle (streaming/state.py's
``fold_state``): the top-K fold is idempotent by itself (folding the
same rows twice changes nothing), but the ``applied_bid`` fence makes
a replayed batch do ZERO I/O instead of committing an identical
version — the ST15 HLL-store argument.

Parity (pinned in tests/test_streaming_sample.py): after every batch
the maintained sample equals the direct sk05-style top-K over
everything ingested so far — sample(stream) == sample(batch), held
continuously, plus restart idempotence and replay no-op.

Scale shape (100 TB/day): per batch ONE narrow priority projection
over the delta (the ~10-step ln chain — no shuffle), one distributed
TakeOrdered, and a K+K-row driver-side merge; state I/O is K rows per
dirty batch. No history is ever re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .state import fold_state, read_state

#: item-feed landing schema: an id + a positive weight-bearing value
#: (sampling probability proportional to its cents quantization)
ITEM_SCHEMA = "item_id long, value double"

#: the stored sample: the K surviving (id, weight, priority) rows +
#: state.py's replay fence
SAMPLE_SCHEMA = "item_id BIGINT, w BIGINT, pk DOUBLE, applied_bid BIGINT"

#: sample size — sk05's K by default
SAMPLE_K_DEFAULT = 20


def read_item_feed(spark: SparkSession, landing_dir: str) -> DataFrame:
    """NDJSON item-feed landing files as an unbounded file-source
    stream (the ivm/sketches landing pattern)."""
    return spark.readStream.schema(ITEM_SCHEMA).json(landing_dir)


def _dedup_items(df: DataFrame) -> DataFrame:
    """One row per item: a re-observed item keeps its highest-priority
    draw (max(struct(pk, w)) — for a fixed id the seeded uniform is
    fixed, so max priority == max observed weight). Without this the
    K-row sample could hold the same item at several ranks (review
    r13) — the WITHOUT-REPLACEMENT contract is per ITEM, not per
    observation."""
    m = F.max(F.struct(F.col("pk"), F.col("w"))).alias("m")
    return (
        df.groupBy("item_id")
        .agg(m)
        .select("item_id", F.col("m.w").alias("w"), F.col("m.pk").alias("pk"))
    )


def batch_sample(df: DataFrame, k: int) -> DataFrame:
    """A batch's candidate sample: the delta's top-k per-ITEM
    priorities under the SHARED sk05 key definition (lazy import —
    one source of truth). Keyless or non-positive-weight rows cannot
    draw a priority and are dropped (the ivm malformed-row rule:
    QUALITY gating is ST13's job); duplicate observations collapse to
    the item's best draw (``_dedup_items``)."""
    from ..plans.training_queries import sk05_priority_cols

    b = df.filter(
        F.col("item_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        "item_id",
        F.expr("CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT)").alias("w"),
    ).filter(F.col("w") >= 1)
    return (
        _dedup_items(
            sk05_priority_cols(b, "item_id", "w").select("item_id", "w", "pk")
        )
        .orderBy(F.desc("pk"), "item_id")
        .limit(k)
    )


def merge_sample(batch_df: DataFrame, batch_id: int, state_dir: str, k: int) -> None:
    """Fold one micro-batch into the stored sample through the fenced
    cycle: union of the stored K rows with the delta's top-k, re-top-K
    (the mergeability identity sk05 certifies). The per-item dedup
    runs on the union too: an item already in the stored sample and
    re-arriving in the delta must occupy ONE slot (upgrading to its
    best draw), never two."""

    def top_k(stored: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            _dedup_items(stored.unionByName(delta))
            .orderBy(F.desc("pk"), "item_id")
            .limit(k)
        )

    fold_state(
        batch_df.sparkSession,
        state_dir,
        batch_id,
        SAMPLE_SCHEMA,
        batch_sample(batch_df, k),
        top_k,
    )


def start_sample_maintenance(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = SAMPLE_K_DEFAULT,
) -> StreamingQuery:
    """Maintain the weighted sample over everything currently in the
    landing dir (availableNow trigger; checkpoint offset log + the
    batch-id fence make each input file fold exactly once under
    foreachBatch replay)."""
    return (
        read_item_feed(spark, landing_dir)
        .writeStream.foreachBatch(
            lambda df, bid: merge_sample(df, bid, state_dir, k)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_sample(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained sample with its rank — the serving shape of
    sk05's verified rows."""
    return read_state(spark, state_dir, SAMPLE_SCHEMA).select(
        F.expr(
            "CAST(row_number() OVER (ORDER BY pk DESC, item_id) AS BIGINT)"
        ).alias("sample_rank"),
        "item_id",
        F.col("w").alias("weight_cents"),
        F.expr("CAST(floor(pk * 1.0e15) AS BIGINT)").alias("priority_femto"),
    )

"""Streaming incremental view maintenance (ST14) — the unbounded twin
of the batch ``ivm02_retraction_merge`` recipe: a keyed stats view
(user → exact integer moments n, Σc, Σc²) is MAINTAINED, never
rebuilt, by folding each micro-batch's SIGNED delta partials into the
stored view — the cdc02-shaped change feed (insert / delete; an update
travels as one retraction plus one insertion, the ivm02 rule) absorbed
continuously.

The view lives in the shared crash-safe versioned state store and
folds through its one fenced cycle (streaming/state.py's
``fold_state``): each batch's signed partials are added to the stored
view (the Chan-identity merge, closed under subtraction because the
partials are EXACT integers — the ivm02 argument), keys whose count
reaches zero are dropped, and the next version commits. A signed sum
would double-fold a replayed delta, so the store's ``applied_bid``
fence makes a replayed batch (foreachBatch is at-least-once) fold
nothing.

Parity (pinned in tests/test_streaming_ivm.py): after any sequence of
batches, the view equals a DIRECT recompute over the logical current
table — merge-equals-recompute under deletes, the ivm02 proof, held
continuously.

Scale shape (100 TB/day ingest): per batch ONE map-side-combinable
signed aggregate over the delta (delta-sized, never history-sized) +
one keyed merge against the view; no history scan ever happens after
the first load. Two store layouts share the one signed-sum merge
(``_merge_view``):

- ``n_buckets=None`` (default): the whole view is one versioned table
  — the single-file test shape, full-view rewrite per batch.
- ``n_buckets=B`` (the production variant): the view is KEY-BUCKETED
  through ``state.fold_bucketed`` — ``state_dir/bucket=<k>`` stores,
  a key's bucket pinned by the portable hash, and a batch rewrites
  ONLY its dirty buckets, so per-batch state I/O is proportional to
  the delta's key spread, not the view size. Each bucket carries its
  own fence, so a replay folds each bucket exactly once even when a
  crash interrupted a multi-bucket commit (pinned in
  tests/test_streaming_ivm.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .state import fold_bucketed, fold_state, read_bucketed, read_state

#: change-feed landing schema: op is 'I' (insert) or 'D' (delete);
#: an UPDATE is a ('D', old value) + ('I', new value) row pair
CHANGE_SCHEMA = "user_id long, event_id long, op string, value double"

#: the stored view: exact integer moments per key, plus state.py's
#: replay fence
VIEW_SCHEMA = (
    "user_id BIGINT, n BIGINT, s BIGINT, s2 BIGINT, applied_bid BIGINT"
)


def read_change_feed(spark: SparkSession, landing_dir: str) -> DataFrame:
    """NDJSON change-feed landing files as an unbounded file-source
    stream (the scd/joins landing pattern)."""
    return spark.readStream.schema(CHANGE_SCHEMA).json(landing_dir)


def signed_partials(df: DataFrame) -> DataFrame:
    """Per-user signed delta partials (Σsg, Σsg·c, Σsg·c²) over a
    change-feed batch — the ivm02 signed algebra on the ivm01 cents
    rule (ONE source of truth: `_IVM01_CENTS` is lazily imported from
    the batch twin, like ST10 shares `_dd16_canon`)."""
    from ..plans.training_queries import _IVM01_CENTS

    sg = F.when(F.col("op") == "D", F.lit(-1)).otherwise(F.lit(1))
    return (
        # a keyless change row (permissive JSON source, missing
        # user_id) cannot address any view state — dropped explicitly
        # here so BOTH store layouts behave identically (the bucketed
        # merge would otherwise compute a NULL bucket and die sorting
        # the dirty list; the single store silently shed the row on
        # the next read's isNotNull filter). Malformed-row QUALITY
        # handling is the upstream gate's job (ST13), not the view's.
        df.filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            sg.alias("sg"),
            F.expr(_IVM01_CENTS).cast("bigint").alias("c"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("sg").cast("bigint").alias("n"),
            F.sum(F.col("sg") * F.col("c")).cast("bigint").alias("s"),
            F.sum(F.col("sg") * F.col("c") * F.col("c"))
            .cast("bigint")
            .alias("s2"),
        )
    )


def _merge_view(view: DataFrame, partials: DataFrame) -> DataFrame:
    """The signed-sum merge: union + keyed sum (the plan shape
    ivm01/ivm02 pin); a key whose rows were all retracted leaves the
    view — the view holds live keys only."""
    return (
        view.unionByName(partials)
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s").cast("bigint").alias("s"),
            F.sum("s2").cast("bigint").alias("s2"),
        )
        .filter(F.col("n") != 0)
    )


def merge_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """Fold one micro-batch's signed partials into the single-table
    view through the fenced cycle."""
    fold_state(
        batch_df.sparkSession,
        state_dir,
        batch_id,
        VIEW_SCHEMA,
        signed_partials(batch_df),
        _merge_view,
    )


def merge_batch_bucketed(
    batch_df: DataFrame, batch_id: int, state_dir: str, n_buckets: int
) -> None:
    """The bucketed production merge: fold one micro-batch into ONLY
    the bucket stores its keys touch."""
    fold_bucketed(
        batch_df.sparkSession,
        state_dir,
        batch_id,
        VIEW_SCHEMA,
        signed_partials(batch_df),
        _merge_view,
        n_buckets,
    )


def start_view_maintenance(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
) -> StreamingQuery:
    """Maintain the view over everything currently in the landing dir
    (availableNow trigger; the checkpoint's offset log + the
    batch-id-fenced versioned state commit make each input file fold
    exactly once EVEN under foreachBatch replay). ``n_buckets``
    switches to the key-bucketed store (delta-proportional state I/O;
    see the module docstring)."""
    if n_buckets is None:
        sink = lambda df, bid: merge_batch(df, bid, state_dir)  # noqa: E731
    else:
        sink = lambda df, bid: merge_batch_bucketed(  # noqa: E731
            df, bid, state_dir, n_buckets
        )
    return (
        read_change_feed(spark, landing_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def view_stats(
    spark: SparkSession, state_dir: str, n_buckets: int | None = None
) -> DataFrame:
    """The maintained view with derived mean/variance — the ivm02
    fixed-order double derivations from the exact integer moments,
    through the shared ``_r`` rounding rule (one epsilon policy with
    the batch twin)."""
    from ..plans.queries import _r

    if n_buckets is None:
        v = read_state(spark, state_dir, VIEW_SCHEMA)
    else:
        v = read_bucketed(spark, state_dir, VIEW_SCHEMA, n_buckets)
    mean = F.col("s").cast("double") / F.col("n") / 100.0
    var = (
        (F.col("s2") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / F.col("n")
        / 10000.0
    )
    return v.select(
        "user_id",
        "n",
        "s",
        "s2",
        _r(mean, 4).alias("mean_value"),
        _r(var, 4).alias("var_value"),
    )

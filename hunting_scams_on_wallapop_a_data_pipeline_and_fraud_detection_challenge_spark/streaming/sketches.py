"""Streaming sketch maintenance (ST15) — the canonical streaming
sketch VERDICT r12 item 3 named: sk02/sk04's HLL registers and sk03's
quantile-sketch bucket counts are MAINTAINED per micro-batch in the
key-bucketed versioned state store (streaming/state.py's
``fold_bucketed``: the fenced ``v=<n>`` + ``_SUCCESS`` commit cycle
with dirty-bucket-only I/O), instead of being rebuilt from history.

The two maintained states are exactly the mergeable register algebras
their batch twins PROVE mergeable (sk02's ``merge_exact``, sk03's
``merge==direct``):

- **HLL registers** (distinct keys per group): rows (grp, reg, m)
  folded by register-wise MAX — sk02's union-of-sketches identity
  applied continuously. The register definition is shared VERBATIM
  with the batch build (``_SK02_RHO_SQL`` / ``_SK02_M`` / the portable
  ``h32`` — one source of truth, the ST10 ``_dd16_canon`` pattern).
- **Quantile bucket counts** (value CDF): rows (b, cnt) folded by
  ADDITION — sk03's log-bucketed histogram (``_flog2_steps`` /
  ``_sk03_bucket``, shared verbatim) absorbed per batch.

Replay safety (foreachBatch is at-least-once): ADD is not idempotent,
so both stores fold through state.py's fenced cycle and a replayed
batch folds nothing per bucket. MAX would be idempotent by itself,
but the fence makes a replay do ZERO I/O instead of committing an
identical version.

Parity (pinned in tests/test_streaming_sketches.py): after every
batch, each maintained state equals the batch sketch computed directly
over everything ingested so far — sketch(stream) == sketch(batch),
held continuously, plus restart idempotence and the dirty-bucket-only
I/O audit.

Scale shape (100 TB/day): per batch, each fold is one map-side-
combinable keyed aggregate over the DELTA (registers: m rows per
touched group; buckets: <= a few hundred rows for any BIGINT domain —
the sk03 bound) merged against state whose size is REGISTERS, not
data: KBs per group forever. Dirty-bucket-only writes make state I/O
proportional to the delta's key spread; serving (estimates) reads the
bucket stores without touching any corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from .state import fold_bucketed, read_bucketed

#: event-feed landing schema: a keyed value stream — grp is the
#: sketch group (HLL cardinality per grp), k the entity key counted
#: distinctly, v the measured value the quantile sketch profiles
EVENT_SCHEMA = "grp string, k long, v double"

#: maintained HLL register state (per bucket store): register-wise
#: max rho per (group, register) + state.py's replay fence
HLL_SCHEMA = "grp STRING, reg BIGINT, m BIGINT, applied_bid BIGINT"

#: maintained quantile-sketch state (per bucket store): count per
#: log-bucket + state.py's replay fence
QSK_SCHEMA = "b BIGINT, cnt BIGINT, applied_bid BIGINT"

#: quantiles served by default — sk03's profile
QUANTILES = (25, 50, 75, 90, 99)

#: default bucket-store fanout: small for the test shape; production
#: sizes it to the expected group-key spread (the ST14 knob)
N_BUCKETS_DEFAULT = 4


def read_event_feed(spark: SparkSession, landing_dir: str) -> DataFrame:
    """NDJSON event-feed landing files as an unbounded file-source
    stream (the ivm/scd landing pattern)."""
    return spark.readStream.schema(EVENT_SCHEMA).json(landing_dir)


def hll_register_partials(df: DataFrame) -> DataFrame:
    """A batch's HLL register partial: max rho per (grp, reg) over the
    delta — sk02's register pipeline verbatim (lazy import, the ST10
    sharing pattern). Keyless rows cannot address register state and
    are dropped (the ivm rule: malformed-row QUALITY handling is
    ST13's job)."""
    from ..functions.hashing import h32
    from ..plans.training_queries import _SK02_M, _SK02_RHO_SQL

    h = (
        df.filter(F.col("grp").isNotNull() & F.col("k").isNotNull())
        .select("grp", h32(F.col("k").cast("string")).alias("h"))
    )
    return (
        h.select(
            "grp",
            (F.col("h") % _SK02_M).cast("bigint").alias("reg"),
            F.expr(_SK02_RHO_SQL).cast("bigint").alias("m"),
        )
        .groupBy("grp", "reg")
        .agg(F.max("m").cast("bigint").alias("m"))
    )


def qsk_bucket_partials(df: DataFrame) -> DataFrame:
    """A batch's quantile-sketch partial: count per log-bucket over
    the delta — sk03's bucket projection verbatim (``_flog2_steps`` +
    ``_sk03_bucket``). The sketch domain is positive values (the
    DDSketch positive-domain contract): rows whose cents value
    quantizes below 1 are out of domain and dropped."""
    from ..plans.training_queries import _flog2_steps, _sk03_bucket

    d = (
        df.filter(F.col("v").isNotNull())
        .select(
            F.expr("CAST(floor(v * 100.0e0 + 0.5e0) AS BIGINT)").alias("c")
        )
        .filter(F.col("c") >= 1)
    )
    for name, expr in _flog2_steps("c", "kc", duck=False):
        d = d.withColumn(name, F.expr(expr))
    return (
        d.select(
            F.expr(_sk03_bucket("c", "kc", False)).cast("bigint").alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _max_registers(regs: DataFrame, delta: DataFrame) -> DataFrame:
    """HLL register merge: register-wise MAX (sk02's union identity)."""
    return (
        regs.unionByName(delta)
        .groupBy("grp", "reg")
        .agg(F.max("m").cast("bigint").alias("m"))
    )


def _sum_buckets(buckets: DataFrame, delta: DataFrame) -> DataFrame:
    """Quantile-sketch merge: per-bucket ADDITION (sk03's merge)."""
    return (
        buckets.unionByName(delta)
        .groupBy("b")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    hll_dir: str,
    qsk_dir: str,
    n_buckets: int,
) -> None:
    """Fold one micro-batch into BOTH sketch states through the shared
    fenced bucketed cycle (``state.fold_bucketed``). The HLL bucket is
    the pinned hash of the GROUP (a group's registers never migrate),
    the quantile bucket the pinned hash of the log-bucket id."""
    spark = batch_df.sparkSession
    fold_bucketed(
        spark,
        hll_dir,
        batch_id,
        HLL_SCHEMA,
        hll_register_partials(batch_df),
        _max_registers,
        n_buckets,
    )
    fold_bucketed(
        spark,
        qsk_dir,
        batch_id,
        QSK_SCHEMA,
        qsk_bucket_partials(batch_df),
        _sum_buckets,
        n_buckets,
    )


def start_sketch_maintenance(
    spark: SparkSession,
    landing_dir: str,
    hll_dir: str,
    qsk_dir: str,
    checkpoint_dir: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> StreamingQuery:
    """Maintain both sketches over everything currently in the landing
    dir (availableNow trigger; the checkpoint's offset log + the
    per-bucket batch-id fences make each input file fold exactly once
    even under foreachBatch replay)."""
    return (
        read_event_feed(spark, landing_dir)
        .writeStream.foreachBatch(
            lambda df, bid: fold_batch(df, bid, hll_dir, qsk_dir, n_buckets)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_registers(
    spark: SparkSession, hll_dir: str, n_buckets: int = N_BUCKETS_DEFAULT
) -> DataFrame:
    """The maintained HLL register table. ``n_buckets`` MUST match the
    maintenance fanout — it defaults to the same ``N_BUCKETS_DEFAULT``
    the writer defaults to, so bumping the constant can never desync
    the write and read paths."""
    return read_bucketed(spark, hll_dir, HLL_SCHEMA, n_buckets)


def read_qsk_buckets(
    spark: SparkSession, qsk_dir: str, n_buckets: int = N_BUCKETS_DEFAULT
) -> DataFrame:
    """The maintained quantile-sketch histogram; the ``n_buckets``
    contract is ``read_hll_registers``'s."""
    return read_bucketed(spark, qsk_dir, QSK_SCHEMA, n_buckets)


def hll_estimates(
    spark: SparkSession, hll_dir: str, n_buckets: int = N_BUCKETS_DEFAULT
) -> DataFrame:
    """Per-group cardinality estimates served FROM the maintained
    registers — sk02's raw scaled-integer estimate (exact BIGINT
    harmonic denominator, one double division)."""
    from ..plans.queries import _r
    from ..plans.training_queries import _SK02_ALPHA, _SK02_K, _SK02_M

    s = (
        read_hll_registers(spark, hll_dir, n_buckets)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_used"),
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_SK02_K} - m)"))
            .cast("bigint")
            .alias("s_present"),
        )
    )
    est = (
        F.lit(_SK02_ALPHA)
        * _SK02_M
        * _SK02_M
        * F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {_SK02_K}) AS DOUBLE)")
        / (
            F.col("s_present")
            + (_SK02_M - F.col("n_used"))
            * F.expr(f"shiftleft(CAST(1 AS BIGINT), {_SK02_K})")
        )
    )
    return s.select(
        "grp",
        F.col("n_used").alias("n_registers_used"),
        _r(est, 2).alias("hll_estimate"),
    )


def quantile_estimates(
    spark: SparkSession,
    qsk_dir: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    quantiles: tuple[int, ...] = QUANTILES,
) -> DataFrame:
    """Quantile estimates served FROM the maintained histogram —
    sk03's selection rule (first bucket whose cumulative count reaches
    the target rank; the reported value is the bucket's lower bound in
    value units)."""
    from ..plans.queries import _r
    from ..plans.training_queries import _sk03_lb

    merged = read_qsk_buckets(spark, qsk_dir, n_buckets).localCheckpoint(
        eager=False
    )
    nb = merged.agg(F.sum("cnt").cast("bigint").alias("n"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "b", F.sum("cnt").over(wcum).cast("bigint").alias("cum")
    )
    t = (
        merged.sparkSession.range(1)
        .select(
            F.explode(F.array(*[F.lit(q) for q in quantiles])).alias("q_pct")
        )
        .crossJoin(F.broadcast(nb))
        .select("q_pct", F.expr("(q_pct * n + 99) DIV 100").alias("kq"), "n")
    )
    est = (
        cum.crossJoin(F.broadcast(t))
        .groupBy("q_pct", "kq", "n")
        .agg(F.min(F.when(F.col("cum") >= F.col("kq"), F.col("b"))).alias("eb"))
    )
    return est.select(
        "q_pct",
        "n",
        F.col("kq").cast("bigint").alias("k_rank"),
        _r(
            F.expr(_sk03_lb("eb", False)).cast("double") / 100.0, 2
        ).alias("est_value"),
    )

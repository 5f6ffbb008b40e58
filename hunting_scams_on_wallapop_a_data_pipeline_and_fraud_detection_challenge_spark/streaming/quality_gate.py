"""Streaming expectation gate (ST13) — dq02's batched rule suite as a
``foreachBatch`` gate on an orders landing stream: every micro-batch is
evaluated against the SAME one-pass rule aggregate the batch suite
runs (``plans.training_queries._dq02_orders_agg`` — one source of
truth, lazily imported like ST9/ST10 share their batch-twin helpers),
rows violating a row-level rule or duplicating a key within the batch
are QUARANTINED, clean rows are admitted, and a per-batch verdict
ledger is appended — the quality-gate batch↔stream twin that completes
the dd12↔ST9 / dd16↔ST10 / cdc02↔ST11 / j09-j10↔ST12 pattern
(parity pinned in tests/test_streaming_quality_gate.py).

Semantics (documented, not hidden):

- The three ROW-level rules (price range, status set, custkey null)
  quarantine exactly the violating rows, and a MALFORMED row (NULL in
  a rule field, where the rule comparison itself is NULL) quarantines
  too — the ledger counts only definite violations (the dq02 oracle's
  CASE semantics), but no row is ever lost to three-valued logic:
  accepted ∪ quarantine == batch always. A NULL orderkey quarantines
  as well (ADVICE r11: the ledger's uniqueness count
  ``n − countDistinct(key)`` treats every NULL-key row as a
  violation, so the leg split must agree — a malformed NULL-key row
  can never land in accepted/ while the ledger reports FAIL).
- The UNIQUENESS rule is cross-row: within a micro-batch, ALL rows of
  a duplicated orderkey quarantine (keeping "the first" of an
  unordered batch would be nondeterministic); by DEFAULT duplicates
  split across batches are admitted — batch-local uniqueness is what
  a stateless gate can check. The OPT-IN ``unique_state_dir`` leg
  (VERDICT r11 item 8) upgrades this to GLOBAL key uniqueness by
  composing ST9's bounded bloom state: each batch's keys probe the
  bloom built from every PRIOR batch's ADMITTED keys (seen key →
  quarantine + an extra ``orders_orderkey_unique_global`` ledger row),
  then the batch's own accepted keys fold in — a quarantined row's key
  stays available, so a corrected resubmission of a rejected order is
  admitted rather than re-quarantined as a duplicate of its own
  rejected attempt — the same ≤4,096-word (word, bits) table and the
  same fenced fold cycle as ST9 (streaming/state.py): a replayed batch
  (foreachBatch is at-least-once) probes ``state_before`` its own id,
  the version its verdicts were originally computed against —
  replay-stable verdicts, not just replay-safe state. Bounded state
  buys approximation: a saturating bloom can FALSELY flag a fresh key
  (quarantining it — the conservative direction; a true duplicate is
  never admitted), at a rate set by the fill factor — the documented
  bloom contract; exact global uniqueness at scale is ST10's
  watermarked dropDuplicates or a key-bucketed exact state
  (``state.fold_bucketed``).
- The ledger row (batch_id, rule, n_checked, n_violations, pass) per
  rule per batch equals dq02's orders legs evaluated on that batch's
  rows — the parity pin.

Scale shape (100 TB/day ingest): the verdict is ONE map-side-combinable
aggregate per batch (collected — it is a single row), the quarantine
partition is one shuffle on orderkey for the duplicate flag plus a
codegen filter, and every leg — accepted, quarantine AND the verdict
ledger — lands through Spark writers so one filesystem scheme (HDFS /
S3 / local) serves all three (ADVICE r11: the ledger used to be a
driver-local ``open()``, silently landing on the driver's disk under
an object-store out_dir); the default gate keeps NO cross-batch state,
so restart safety is entirely the checkpoint's file-source offset log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..functions.hashing import bloom_build, bloom_merge, hmod
from .corpus_ingest import BLOOM_STATE_SCHEMA, _probe_against_bloom
from .state import fold_state, state_before

#: landing-file schema: the orders columns the rule suite consumes
ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double"
)


def read_orders_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """NDJSON orders landing files as an unbounded file-source stream
    (the scd/joins landing pattern)."""
    return spark.readStream.schema(ORDERS_SCHEMA).json(landing_dir)


#: the extra ledger rule the opt-in global-uniqueness leg reports
GLOBAL_UNIQUE_RULE = "orders_orderkey_unique_global"

_LEDGER_SCHEMA = (
    "batch_id BIGINT, rule STRING, n_checked BIGINT,"
    " n_violations BIGINT, pass BOOLEAN"
)


def _key_hashes(rows: DataFrame) -> DataFrame:
    """Per-row (doc_id=orderkey, h) probe rows for ST9's bloom
    machinery — one hash per key through the shared portable hash."""
    return rows.filter(F.col("o_orderkey").isNotNull()).select(
        F.col("o_orderkey").alias("doc_id"),
        hmod(F.col("o_orderkey").cast("string")).alias("h"),
    )


def _seen_keys(
    rows: DataFrame, spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame:
    """(o_orderkey, v_seen) for keys already ADMITTED by PRIOR batches,
    by probing ST9's bloom word table (one probe definition with the
    corpus-ingest gate)."""
    bloom = state_before(spark, state_dir, batch_id, BLOOM_STATE_SCHEMA)
    return _probe_against_bloom(_key_hashes(rows), bloom, 1.0).select(
        F.col("doc_id").alias("o_orderkey"),
        F.col("dup_flag").alias("v_seen"),
    )


def gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    unique_state_dir: str | None = None,
) -> None:
    """Evaluate one micro-batch: append the per-rule verdict ledger and
    split the rows into accepted/ and quarantine/ NDJSON legs."""
    # lazy import: the rule battery lives with its oracle twin in the
    # batch registry; importing it here keeps ONE source of truth for
    # the thresholds without making the registry import streaming
    from ..plans.training_queries import (
        _DQ02_ORDERS_RULES,
        _dq02_orders_agg,
        _dq02_row_violations,
    )

    spark = batch_df.sparkSession
    rows = batch_df.localCheckpoint(eager=True)
    verdict = _dq02_orders_agg(rows).collect()[0]
    ledger = [
        (
            batch_id,
            name,
            verdict["n"],
            verdict[vcol],
            verdict[vcol] == 0,
        )
        for name, vcol in _DQ02_ORDERS_RULES
    ]

    dup = F.count(F.lit(1)).over(Window.partitionBy("o_orderkey")) > 1
    flagged = _dq02_row_violations(rows).withColumn("v_dup", dup)
    if unique_state_dir is not None:
        # opt-in global uniqueness: probe this batch's keys against the
        # bloom of every PRIOR batch's keys; verdicts are materialized
        # before the state merge below (the ST9 discipline)
        flagged = flagged.join(
            _seen_keys(rows, spark, unique_state_dir, batch_id),
            "o_orderkey",
            "left",
        ).withColumn("v_seen", F.coalesce(F.col("v_seen"), F.lit(False)))
    else:
        flagged = flagged.withColumn("v_seen", F.lit(False))
    # NULL-safe quarantine: a NULL in a rule field (missing price or
    # status on a malformed landing row) makes the comparison flag
    # NULL — three-valued logic would then drop the row from BOTH legs
    # and silently lose it. coalesce(..., True) sends malformed rows
    # to quarantine, keeping accepted ∪ quarantine == batch. A NULL
    # orderkey quarantines too (ADVICE r11 — the ledger's uniqueness
    # count treats it as a violation, so the split must agree). The
    # LEDGER still counts only DEFINITE violations (the dq02 oracle's
    # CASE semantics) — a quarantined-as-malformed row need not appear
    # in any rule's violation count.
    bad = (
        F.coalesce(F.col("v_range") | F.col("v_set"), F.lit(True))
        | F.col("v_null")
        | F.col("v_dup")
        | F.col("o_orderkey").isNull()
        | F.col("v_seen")
    )
    flagged = flagged.withColumn("bad", bad).localCheckpoint(eager=True)
    if unique_state_dir is not None:
        n_seen = flagged.agg(
            F.coalesce(F.sum(F.col("v_seen").cast("int")), F.lit(0))
        ).collect()[0][0]
        ledger.append(
            (batch_id, GLOBAL_UNIQUE_RULE, verdict["n"], n_seen, n_seen == 0)
        )
    # all three sinks go through Spark writers so the out_dir scheme
    # (local / HDFS / S3) is honored uniformly (ADVICE r11)
    (
        spark.createDataFrame(ledger, _LEDGER_SCHEMA)
        .coalesce(1)
        .write.mode("overwrite")
        .json(f"{out_dir}/ledger/batch={batch_id}")
    )
    cols = rows.columns
    (
        flagged.filter("bad")
        .select(*cols)
        .write.mode("overwrite")
        .json(f"{out_dir}/quarantine/batch={batch_id}")
    )
    (
        flagged.filter("NOT bad")
        .select(*cols)
        .write.mode("overwrite")
        .json(f"{out_dir}/accepted/batch={batch_id}")
    )
    if unique_state_dir is not None:
        # fold only the ADMITTED keys: a quarantined row never entered
        # the accepted leg, so its key must stay available — a producer
        # that corrects and resubmits a rejected order is let through
        # instead of being permanently re-quarantined as a "duplicate"
        # of its own rejected attempt
        fold_state(
            spark,
            unique_state_dir,
            batch_id,
            BLOOM_STATE_SCHEMA,
            bloom_build(_key_hashes(flagged.filter("NOT bad"))),
            bloom_merge,
        )


def start_quality_gate(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    unique_state_dir: str | None = None,
) -> StreamingQuery:
    """Run the gate over everything currently in the landing dir
    (availableNow trigger; the checkpoint's offset log makes restarts
    exactly-once per input file). ``unique_state_dir`` opts in to the
    GLOBAL key-uniqueness leg (see the module docstring)."""
    return (
        read_orders_stream(spark, landing_dir)
        .writeStream.foreachBatch(
            lambda df, bid: gate_batch(df, bid, out_dir, unique_state_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Streaming corpus-ingest curation — the training-data twin of the
alert engine's ST surface.

Documents land as NDJSON (the same landing-zone pattern the batch
poller writes, ``poller/poller.py:729-754``); each micro-batch computes
the scan-projection curation columns — content fingerprint, Gopher rule
verdict, token count — drops rejects, and drops byte-identical
re-ingests with ``dropDuplicatesWithinWatermark`` on the content
fingerprint. This is cp01's front half (dedup + quality) running
continuously instead of as a batch pass.

Scale: the only state is the fingerprint-dedupe map, bounded by the
watermark horizon and partitioned by fingerprint — no global state, so
the job scales linearly with executors. The dedupe key is the same
``md5(lower(trim(text)))`` cp01/dd01 use, so batch backfills and the
stream can never disagree about what counts as a duplicate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Landing-zone document schema: the driver `documents` columns plus the
#: ingest event time the watermark rides on.
DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
    ]
)

#: How long a fingerprint stays deduplicable — bounds the state store.
DEDUPE_HORIZON = "1 hour"


def read_document_stream(
    spark: SparkSession, landing_dir: str, schema: T.StructType = DOC_STREAM_SCHEMA
) -> DataFrame:
    return spark.readStream.schema(schema).json(landing_dir)


def simhash_expr(text, bits: int):
    """Per-row stateless twin of dd03's explode+groupBy simhash: ±1
    votes per bit over distinct-token hashes, bit set where the vote is
    positive. Integer sums are order-free, so this equals the batch
    operator EXACTLY (gated in tests/test_streaming_corpus.py) — the
    stream and a batch backfill can never sign the same text
    differently. The hash array is bound as a lambda variable so the
    tokenizer runs once per row, not once per bit (shingles lesson)."""
    from ..functions.hashing import hmod
    from ..functions.textstats import distinct_tokens

    hs = F.transform(distinct_tokens(text), lambda t: hmod(t))

    def _of(h_arr):
        sim = None
        for j in range(bits):
            vote = F.aggregate(
                h_arr,
                F.lit(0),
                lambda acc, h: acc
                + F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1),
            )
            term = F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0))
            sim = term if sim is None else sim + term
        return sim.cast("bigint")

    return F.element_at(F.transform(F.array(hs), _of), 1)


def _curated_projection(
    stream: DataFrame, horizon: str, sig_bits: int | None = None
) -> DataFrame:
    """The stateless curation projection both dedupe stages share:
    watermark, quality battery, fingerprint, token count — plus the
    simhash signature when the near-dup stage asks for it. Text never
    survives the projection (cp01 discipline: only fixed-width keys
    enter any stateful operator)."""
    from functools import reduce

    from ..functions.textstats import tokens

    # lazy import: the rule battery lives with its oracle twin in the
    # batch registry; importing it here keeps ONE source of truth for
    # the thresholds without making the registry import streaming
    from ..plans.training_queries import _gopher_rule_cols

    text = F.col("text")
    keep = reduce(lambda a, b: a & b, _gopher_rule_cols(text).values())
    fp = F.md5(F.lower(F.trim(text)))
    cols = [
        "doc_id",
        "lang",
        "source",
        "ingest_ts",
        fp.alias("fp"),
        # the shared tokenizer, so stream and batch (cp01/ds02)
        # can never disagree on token accounting
        F.size(tokens(text)).alias("n_tok"),
    ]
    if sig_bits is not None:
        cols.append(simhash_expr(text, sig_bits).alias("simhash"))
    return (
        # a row with NULL event time has undefined watermark semantics
        # (it can neither expire nor be ordered) — quarantine it like a
        # malformed line rather than feeding it to the stateful stages
        stream.filter(F.col("ingest_ts").isNotNull())
        .withWatermark("ingest_ts", horizon)
        .select(*cols, keep.alias("keep"))
        .filter(F.col("keep"))
        .drop("keep")
    )


def curated_stream(stream: DataFrame, horizon: str = DEDUPE_HORIZON) -> DataFrame:
    """Quality-filter + watermark-bounded exact dedupe.

    Every derived column is computed in the stateless projection (same
    discipline as cp01: text never enters the stateful operator — only
    the 32-hex fingerprint does, keeping per-key state tiny)."""
    return _curated_projection(stream, horizon).dropDuplicatesWithinWatermark(["fp"])


def _interval_ms(horizon: str) -> int:
    """Watermark-horizon string → milliseconds, accepting the same
    fixed-length interval grammar Spark's ``withWatermark`` does:
    one or more ``N unit`` terms (``'90 minutes 30 seconds'``), units
    millisecond/second/minute/hour/day/week (ADVICE r05 — the old
    single-term second..day grammar rejected compound horizons that
    ``curated_stream`` happily accepted, so the two stages disagreed
    on which strings are valid). Variable-length units (month/year)
    have no fixed millisecond value and still raise."""
    import re

    units = {
        "millisecond": 1,
        "second": 1_000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
        "week": 604_800_000,
    }
    s = horizon.strip().lower()
    unit_re = "|".join(units)
    if not re.fullmatch(rf"(?:\s*\d+\s*(?:{unit_re})s?)+\s*", s):
        raise ValueError(f"unsupported horizon: {horizon!r}")
    return sum(
        int(n) * units[u]
        for n, u in re.findall(rf"(\d+)\s*({unit_re})s?", s)
    )


def neardup_curated_stream(
    stream: DataFrame,
    horizon: str = DEDUPE_HORIZON,
    max_hamming: int | None = None,
    bits: int | None = None,
) -> DataFrame:
    """Quality filter + watermark-bounded NEAR-dup dedupe — dd08's
    simhash banding as stream state, closing the batch/stream asymmetry
    where ``curated_stream`` only catches byte-identical re-ingests
    while the batch side has five near-dup families.

    Shape: the stateless projection signs each doc (``simhash_expr`` —
    bit-exact with batch dd03), the signature is sliced into dd08's
    ``max_hamming + 1`` pigeonhole bands (shared ``_band_slices``), and
    each (band, key) bucket runs a custom stateful operator
    (``applyInPandasWithState``): state is the bucket's recent
    signatures + event times — a handful of ints, never text. A doc is
    flagged in a bucket when some earlier signature there is within
    ``max_hamming`` (exact by pigeonhole: every qualifying pair shares
    at least one band verbatim, so per-bucket checking has recall 1;
    hamming 0 subsumes the exact-dup stage). Output is per-(doc, band)
    append rows; all of a doc's bands ride the SAME input row, so
    ``reduce_band_verdicts`` can fold them per micro-batch without a
    second stateful operator (applyInPandasWithState cannot be chained
    into further stateful aggregation).

    State is BOUNDED exactly like the exact-dup stage: signatures older
    than the watermark are pruned on every visit, and each bucket
    registers an event-time timeout at its newest signature + horizon —
    when the watermark passes that, the whole entry drops. Semantics match
    ``dropDuplicatesWithinWatermark``: dedupe against anything still in
    state, first arrival (event time, then doc_id) wins, and rows below
    the watermark are dropped in-operator — never emitted, never added
    to state — even if the engine's own late-row filter let one
    through."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.training_queries import (
        _SIMHAM_MAX,
        _SIMHAM_SIG_BITS,
        _band_slices,
    )

    max_hamming = _SIMHAM_MAX if max_hamming is None else max_hamming
    bits = _SIMHAM_SIG_BITS if bits is None else bits
    slices = _band_slices(bits, max_hamming + 1)
    horizon_ms = _interval_ms(horizon)

    proj = _curated_projection(stream, horizon, sig_bits=bits)
    doc_cols = ["doc_id", "lang", "source", "ingest_ts", "fp", "n_tok"]
    banded = proj.select(
        *doc_cols,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash", off)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("k"),
                    )
                    for b, (off, width) in enumerate(slices)
                ]
            )
        ).alias("bk"),
    ).select(
        *doc_cols,
        "simhash",
        # epoch milliseconds computed JVM-side: pandas Timestamp.value on
        # a session-localized NAIVE timestamp is shifted by the session
        # timezone, while getCurrentWatermarkMs() is true epoch — mixing
        # the two breaks state pruning on any non-UTC session
        F.unix_millis(F.col("ingest_ts")).alias("ev_ms"),
        F.col("bk.b").alias("b"),
        F.col("bk.k").alias("k"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("ingest_ts", T.TimestampType()),
            T.StructField("fp", T.StringType()),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("dup", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("sims", T.ArrayType(T.LongType())),
            T.StructField("ts_ms", T.ArrayType(T.LongType())),
        ]
    )

    def _dedupe_bucket(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        sims, ts_ms = ([], []) if not state.exists else [
            list(x) for x in state.get
        ]
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > 0 and sims:
            kept = [(s, t) for s, t in zip(sims, ts_ms) if t >= wm_ms]
            sims = [s for s, _ in kept]
            ts_ms = [t for _, t in kept]
        rows = pd.concat(list(pdfs), ignore_index=True)
        # drop rows below the watermark (ADVICE r05): Spark's stateful
        # late-row filter normally removes them before the operator ever
        # runs, but matching dropDuplicatesWithinWatermark's contract
        # must not DEPEND on that — a late re-ingest of expired content
        # that slipped through would otherwise be emitted AND seed state
        # with an already-expired signature
        if wm_ms > 0:
            rows = rows[rows["ev_ms"] >= wm_ms]
        if rows.empty:
            if sims:
                state.update((sims, ts_ms))
                state.setTimeoutTimestamp(max(max(ts_ms) + horizon_ms, wm_ms + 1))
            elif state.exists:
                state.remove()
            return
        rows = rows.sort_values(["ev_ms", "doc_id"]).reset_index(drop=True)
        dup = []
        for sim, ev in zip(rows["simhash"], rows["ev_ms"]):
            sim = int(sim)
            dup.append(any((sim ^ s).bit_count() <= max_hamming for s in sims))
            # every SEEN signature becomes a representative (kept or
            # dropped), mirroring dropDuplicatesWithinWatermark's
            # seen-anything semantics and matching chained dd08 pairs
            sims.append(sim)
            ts_ms.append(int(ev))
        state.update((sims, ts_ms))
        # clamp above the watermark: applyInPandasWithState does NOT
        # auto-drop late rows, and a bare max(ts)+horizon below the
        # watermark is an IllegalArgumentException that kills the query
        state.setTimeoutTimestamp(max(max(ts_ms) + horizon_ms, wm_ms + 1))
        out = rows[["doc_id", "lang", "source", "ingest_ts", "fp", "n_tok"]].copy()
        out["dup"] = dup
        yield out

    return banded.groupBy("b", "k").applyInPandasWithState(
        _dedupe_bucket,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def reduce_band_verdicts(batch_df: DataFrame) -> DataFrame:
    """Per-doc verdict from the per-(doc, band) append rows: a doc is
    dropped when ANY band flagged it. All of a doc's band rows ride the
    same input row through the stream, so they land in the same
    micro-batch and this is a plain BATCH aggregation inside
    foreachBatch — no second stateful operator."""
    return (
        batch_df.groupBy("doc_id", "lang", "source", "ingest_ts", "fp", "n_tok")
        .agg(F.max("dup").alias("dup"))
        .filter(~F.col("dup"))
        .drop("dup")
    )


class _shuffle_partitions_at_start:
    """Pin ``spark.sql.shuffle.partitions`` around a streaming
    ``.start()`` call. Structured Streaming reads the session conf ONCE
    at first query start and bakes the value into the checkpoint as the
    state-store partition count for the query's whole life — so state
    sizing is a per-query decision (match the stateful key cardinality
    and executor count), not the session's batch shuffle width. On a
    bounded ingest, oversized state partitioning is pure fixed cost:
    every micro-batch pays one state-store open + Arrow round-trip per
    partition (measured at sf0.1: 32 partitions 3.5 s/drain vs 8
    partitions 2.5 s for ~4k bucket keys). No-op when ``n`` is None."""

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        if self.n is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def start_neardup_ingest_query(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    available_now: bool = True,
    horizon: str = DEDUPE_HORIZON,
    state_partitions: int | None = None,
):
    """The near-dup twin of :func:`start_ingest_query`: curation +
    simhash-band dedupe, band verdicts folded per micro-batch before
    the user sink sees the surviving docs. ``state_partitions`` sizes
    the state store at FIRST start (see _shuffle_partitions_at_start);
    it is ignored on checkpoint resume — Spark keeps the baked count."""
    stream = read_document_stream(spark, landing_dir)

    def _sink(batch_df, batch_id):
        sink(reduce_band_verdicts(batch_df), batch_id)

    writer = (
        neardup_curated_stream(stream, horizon)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    with _shuffle_partitions_at_start(spark, state_partitions):
        return writer.start()


def start_ingest_query(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    available_now: bool = True,
    horizon: str = DEDUPE_HORIZON,
    state_partitions: int | None = None,
):
    """Run the curation stream into a foreachBatch sink. AvailableNow
    gives the cron-style micro-batch (drain the landing zone, keep the
    checkpointed dedupe state, stop); exactly-once re-runs come from
    checkpointLocation, same as the alert engine (ST7).
    ``state_partitions`` sizes the state store at first start (see
    _shuffle_partitions_at_start)."""
    stream = read_document_stream(spark, landing_dir)
    writer = (
        curated_stream(stream, horizon)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    with _shuffle_partitions_at_start(spark, state_partitions):
        return writer.start()


# ---------------------------------------------------------------------------
# Streaming bloom-delta dedup — dd12/cp03's incremental probe, continuous
# ---------------------------------------------------------------------------


def _shingle_hash_stream(docs: DataFrame) -> DataFrame:
    """Per-doc DISTINCT shingle hashes — dd12's probe projection, shared
    verbatim so the stream and the batch pipeline can never disagree on
    what counts as a seen shingle."""
    from ..functions.hashing import hmod
    from ..functions.textstats import shingles, tokens

    return (
        docs.select("doc_id", shingles(tokens(F.col("text"))).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", hmod(F.col("s")).alias("h"))
    )


def _bloom_word_rows(sh: DataFrame) -> DataFrame:
    """Collapse shingle hashes to the ≤``_BLOOM_WORDS`` (word, bits)
    table — dd12's build stage (4 Carter-Wegman probes, 63 usable bits
    per BIGINT word, map-side partial bit_or)."""
    from ..functions.hashing import seeded
    from ..plans.training_queries import _BLOOM_BITS, _BLOOM_K

    j = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("j")
    pos = (seeded(F.col("h"), F.col("j")) % _BLOOM_BITS).alias("pos")
    return (
        sh.select("h", j)
        .select(pos)
        .select(
            F.expr("pos DIV 63").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def _probe_against_bloom(
    sh: DataFrame, bloom: DataFrame, dup_max: float
) -> DataFrame:
    """Per-doc verdict from probing shingle hashes against a bloom word
    table: shingle count, seen count (all ``_BLOOM_K`` probe bits set),
    seen ratio, and the dup flag at cp03's threshold. The word table is
    hard-capped at ``_BLOOM_WORDS`` rows, so its broadcast hint is safe
    a priori (the one hint class the r09 rule allows)."""
    from ..functions.hashing import seeded
    from ..plans.training_queries import _BLOOM_BITS, _BLOOM_K

    j = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("j")
    pos = (seeded(F.col("h"), F.col("j")) % _BLOOM_BITS).alias("pos")
    probe = (
        sh.select("doc_id", "h", j)
        .select("doc_id", "h", pos)
        .select(
            "doc_id",
            "h",
            F.expr("pos DIV 63").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"
            ).alias("mask"),
        )
    )
    hitbits = probe.join(F.broadcast(bloom), "word", "left").select(
        "doc_id",
        "h",
        F.when(
            F.col("bits").isNotNull()
            & ((F.col("bits").bitwiseAND(F.col("mask"))) == F.col("mask")),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    persh = hitbits.groupBy("doc_id", "h").agg(
        F.when(F.sum("hit") == _BLOOM_K, 1).otherwise(0).alias("seen")
    )
    ratio = F.col("n_seen").cast("double") / F.col("n_sh")
    return (
        persh.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum("seen").cast("bigint").alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_seen",
            F.round(ratio, 4).alias("seen_ratio"),
            (ratio >= F.lit(dup_max)).alias("dup_flag"),
        )
    )


def _bloom_state_versions(spark: SparkSession, state_dir: str) -> list[int]:
    """COMMITTED bloom-state versions — the shared versioned-state
    commit protocol (streaming/state.py; factored out in r11 so ST14's
    maintained view rides the same contract this module established in
    r10 under ADVICE r09)."""
    from .state import committed_versions

    return committed_versions(spark, state_dir)


def read_bloom_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest COMMITTED (word, bits) bloom table, or an empty one
    when no version has ever committed (streaming/state.py's reader —
    a version is visible only once its ``_SUCCESS`` marker exists)."""
    from .state import read_latest_state

    return read_latest_state(spark, state_dir, "word BIGINT, bits BIGINT")


def _write_bloom_state(spark: SparkSession, df: DataFrame, state_dir: str) -> None:
    """Commit ``df`` as the next bloom-state version, crash-safely
    (streaming/state.py's writer: fresh ``v=<latest+1>`` path, atomic
    reader-visible switch, prune-keeps-predecessor)."""
    from .state import write_next_state

    write_next_state(spark, df, state_dir)


def start_bloom_ingest_query(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    available_now: bool = True,
    dup_max: float | None = None,
):
    """The continuous form of cp03's bloom-delta gate (VERDICT r08 item
    7): each micro-batch probes its documents against the bloom built
    from EVERYTHING ingested before it (plus any batch-side seed laid
    down with :func:`seed_bloom_state`), hands the per-doc verdicts to
    the user sink, then folds the batch's own shingle bits into the
    on-disk word table so later batches see them.

    State is the ≤4,096-row (word, bits) table under ``state_dir``,
    stored as monotonically-versioned ``v=<n>`` commits — trivially
    bounded regardless of ingest volume (the whole point of the bloom:
    per-batch state I/O is kilobytes at any corpus size). Two distinct
    guarantees (ADVICE r09 separated them): REPLAY safety comes from
    the merge being a pure idempotent ``bit_or`` — a batch replayed
    after a crash re-ORs the same bits; CRASH safety comes from the
    versioned layout — each merge commits to a fresh ``v=<n+1>``
    directory and readers only open directories with a ``_SUCCESS``
    marker, so a crash mid-write can never destroy the previous state
    (see :func:`_write_bloom_state`). Output exactly-once comes from
    the checkpointed source offsets like every other ingest query
    here. Within-batch duplicates do NOT flag each other (the batch's
    bits land only after its verdicts) — that intra-delta diff belongs
    to the batch pipeline (cp03), same split as the reference's
    cron-vs-backfill design.

    The verdicts are dd12's exactly: same shingle/hash/probe exprs,
    same ``_CP03_DUP_MAX`` default threshold — gated against the batch
    operator in tests/test_streaming_bloom.py."""
    from ..plans.training_queries import _CP03_DUP_MAX

    threshold = _CP03_DUP_MAX if dup_max is None else dup_max
    stream = read_document_stream(spark, landing_dir)

    def _sink(batch_df, batch_id):
        session = batch_df.sparkSession
        sh = _shingle_hash_stream(batch_df)
        bloom = read_bloom_state(session, state_dir)
        # materialize the verdicts BEFORE the state merge (ADVICE r09):
        # the probe plan lazily scans the state version it was built
        # against, so an un-materialized DataFrame re-evaluated by the
        # user sink after this batch's merge could observe post-merge
        # state; the eager localCheckpoint pins the verdicts to THIS
        # batch's pre-merge view (micro-batch-sized, bounded)
        verdicts = _probe_against_bloom(sh, bloom, threshold).localCheckpoint(
            eager=True
        )
        sink(verdicts, batch_id)
        # fold the batch's bits into the word table: bounded collect
        # (≤ _BLOOM_WORDS + batch words rows), idempotent bit_or merge,
        # committed as a fresh state VERSION (crash mid-write leaves the
        # previous version readable — see _write_bloom_state)
        merged: dict[int, int] = {
            int(r["word"]): int(r["bits"]) for r in bloom.collect()
        }
        for r in _bloom_word_rows(sh).collect():
            w = int(r["word"])
            merged[w] = merged.get(w, 0) | int(r["bits"])
        if merged:
            _write_bloom_state(
                session,
                session.createDataFrame(
                    sorted(merged.items()), "word BIGINT, bits BIGINT"
                ),
                state_dir,
            )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def seed_bloom_state(spark: SparkSession, docs: DataFrame, state_dir: str) -> None:
    """Lay down the historical corpus's bloom as the stream's starting
    state — the batch→stream handoff (cp03 builds the same table from
    its snapshot; this writes it where the continuous query reads),
    committed as version 0 of the versioned state layout."""
    _write_bloom_state(
        spark, _bloom_word_rows(_shingle_hash_stream(docs)), state_dir
    )


def start_url_dedup_ingest_query(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    available_now: bool = True,
    horizon: str = DEDUPE_HORIZON,
):
    """Continuous canonical-URL dedup — dd16's streaming twin (ST10):
    the first pass a web-crawl ingest runs, executed on the stream so
    re-crawls of the same page never reach content hashing at all.
    The canonical URL is computed in the scan projection with the SAME
    expression dd16 uses (``plans.training_queries._dd16_canon`` — one
    source of truth, so the stream and a batch backfill can never
    canonicalize the same URL differently), and
    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per
    canonical URL inside the watermark horizon.

    Scale shape: the only state is the canonical-URL dedupe map,
    bounded by the watermark horizon and partitioned by URL — no
    global state, no payload in state (the text column is dropped
    before the stateful operator, the cp01 discipline: only the
    fixed-width key and the passthrough ids enter it). Batch/stream
    parity (kept canonical-URL SET == dd16's groups over the same
    documents) is pinned in tests/test_streaming_url_dedup.py."""
    from ..plans.training_queries import _DD16_RAW_SQL, _dd16_canon

    stream = read_document_stream(spark, landing_dir)
    raw = F.expr(_DD16_RAW_SQL.format(str="STRING", div="DIV"))
    cur = (
        stream.filter(F.col("ingest_ts").isNotNull())
        .withWatermark("ingest_ts", horizon)
        .select(
            "doc_id",
            "lang",
            "source",
            "ingest_ts",
            raw.alias("url"),
            _dd16_canon(raw).alias("canonical_url"),
        )
    )
    deduped = cur.dropDuplicatesWithinWatermark(["canonical_url"])
    writer = deduped.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

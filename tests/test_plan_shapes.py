"""Physical-plan regression gates: the scale properties we designed for
must stay visible in the executed plan — broadcast joins (facts never
shuffle for dim math), predicate pushdown into parquet scans, and
TakeOrdered-style top-k instead of global sorts."""

from __future__ import annotations

import os

import pytest

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (
    REGISTRY,
)


def _plan(spark, sf_dir, name, **kw) -> str:
    df = REGISTRY[name].fn(spark, sf_dir, **kw)
    return df._jdf.queryExecution().executedPlan().toString()


def _parse_windows(plan: str) -> list[tuple[str, str]]:
    """Physical Window nodes as (partitionSpec, orderSpec) strings.

    Partitioned nodes print `Window [exprs], [part], [order]`; an
    unpartitioned (single-task) node prints only `Window [exprs],
    [order]` — its partition spec is returned as ''."""
    out = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*")
        if stripped.startswith("Window "):
            chunks = stripped.rstrip("]").split("], [")
            assert len(chunks) >= 2, f"unparseable Window node: {line}"
            if len(chunks) == 2:
                out.append(("", chunks[-1]))
            else:
                out.append((chunks[-2], chunks[-1]))
    return out


def test_a06_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a06_weighted_zscore")
    assert plan.count("BroadcastHashJoin") >= 3  # part, bt, b dims
    assert "SortMergeJoin" not in plan  # the fact side must never shuffle


def test_f08_gate_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "f08_gated_enrichment")
    assert "PushedFilters: [Or(GreaterThan(l_extendedprice" in plan
    assert "BroadcastHashJoin" in plan


def test_j03_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j03_enrichment_join")
    # lineitem scan must read only join keys + the aggregated column
    assert "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint,l_extendedprice:double>" in plan


def test_a11_topk_has_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a11_top_users")
    assert "TakeOrderedAndProject" in plan


def test_a12_other_bucket_avoids_rank_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a12_top_terms_other")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan  # the old single-partition rank is gone


def test_nn01_broadcasts_queries_not_corpus(spark, sf_dir):
    """Brute-force top-k ships the tiny query block inside its Arrow
    kernel and streams the corpus once: the plan's one data-moving
    exchange carries only the per-batch partial top-k
    (q_id, vec_id, cos) — the corpus embedding column never shuffles —
    and the merge keeps its per-partition top-k pushdown."""
    payload = _single_exchange_payload(spark, sf_dir, "nn01_cosine_topk")
    assert all(c in payload for c in ("q_id#", "vec_id#", "cos#")), payload
    assert "embedding#" not in payload, payload
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "nn01_cosine_topk")


def test_nested_schema_pruning_on_export(spark, sf_dir, tmp_path):
    """The exported document tree must support nested-column pruning:
    selecting one leaf of `enrichment` reads only that leaf from
    parquet, not the whole struct (critical for dashboard queries over
    wide documents at scale)."""
    from pyspark.sql import functions as F

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.export import (
        to_es_documents,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    flat = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.lit("t").alias("title"),
        F.col("text").alias("description"),
        F.lit(100.0).alias("price"),
        F.lit(1).cast("long").alias("user_id"),
        F.lit("GAMING").alias("category"),
        F.lit("USED").alias("condition"),
        F.lit("INTEL I7").alias("cpu"),
        F.lit("16").alias("ram"),
        F.lit(None).cast("string").alias("gpu"),
        F.lit(-2.0).alias("composite_z"),
        F.lit(500.0).alias("estimated_value"),
        F.lit(False).alias("fallback_used"),
        F.lit(70).alias("risk_score"),
        F.array(F.lit("External Contact")).alias("risk_factors"),
    )
    path = str(tmp_path / "docs_parquet")
    to_es_documents(flat).write.parquet(path)
    scan = spark.read.parquet(path).select(F.col("enrichment.risk_score"))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<enrichment:struct<risk_score:int>>" in plan


def test_ds02_distributed_prefix_sum_shape(spark, sf_dir):
    """Sequence packing must NOT run one serial window per stratum: the
    per-bucket base offsets join back as a broadcast, and every window
    in the plan partitions on (lang, bucket) — never on lang alone
    except the tiny per-bucket rollup (whose input is one row per
    bucket, not per doc)."""
    plan = _plan(spark, sf_dir, "ds02_sequence_packing")
    assert "BroadcastHashJoin" in plan  # bucket bases broadcast to facts
    assert "SortMergeJoin" not in plan
    # The doc-level window (the one ordered by doc_id) must partition
    # on BOTH lang and the range bucket b; a lang-only partition is
    # allowed only for the per-bucket rollup (ordered by b).
    windows = _parse_windows(plan)
    assert windows, "no Window nodes found in ds02 plan"
    doc_level = [(p, o) for p, o in windows if "doc_id#" in o]
    assert doc_level, "doc-level window (ordered by doc_id) missing"
    for part, _ in doc_level:
        assert "lang#" in part and "b#" in part, (
            f"doc-level window must partition on (lang, b), got [{part}]"
        )
    for part, order in windows:
        if "lang#" in part and "b#" not in part:
            assert "b#" in order, (
                f"lang-only Window must be the bucket rollup (ordered by b), "
                f"got partition [{part}] order [{order}]"
            )


def test_pii01_projection_reaches_scan(spark, sf_dir):
    """PII scrub is a pure projection: the events scan must read only
    event_id + props (column pruning), and the plan must contain no
    exchange at all."""
    plan = _plan(spark, sf_dir, "pii01_redact_props")
    assert "Exchange" not in plan  # zero shuffles — per-row op
    assert "props" in plan.split("ReadSchema:")[1]
    assert "value" not in plan.split("ReadSchema:")[1]


def test_ct01_hashes_before_shuffle(spark, sf_dir):
    """Contamination check must shuffle int64 shingle hashes, not the
    raw n-gram strings: no exchange in the plan may carry the shingle
    string column `s` — it exists only between the scan and the
    project that hashes it."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (
        REGISTRY,
    )

    df = REGISTRY["ct01_benchmark_contamination"].fn(spark, sf_dir)
    exec_plan = df._jdf.queryExecution().executedPlan()
    plan = exec_plan.toString()
    for chunk in plan.split("Exchange hashpartitioning")[1:]:
        keys = chunk.split("\n")[0]
        assert "hs#" in keys or "doc_id#" in keys  # int keys only


def test_ds03_split_is_shuffle_free(spark, sf_dir):
    """Split assignment is a pure projection: no exchange anywhere, and
    the documents scan reads only the columns the split needs."""
    plan = _plan(spark, sf_dir, "ds03_leakage_safe_split")
    assert "Exchange" not in plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read and "lang" in read
    assert "source" not in read


def test_ds04_distributed_global_rank_shape(spark, sf_dir):
    """The epoch shuffle must NOT rank through one global window: the
    doc-level window partitions on the hash-range bucket b (parallel),
    and the only unpartitioned window is the 256-row range rollup
    (ordered by b). Same parse as the ds02 gate."""
    plan = _plan(spark, sf_dir, "ds04_training_order")
    assert "BroadcastHashJoin" in plan  # range bases broadcast back
    assert "SortMergeJoin" not in plan
    windows = _parse_windows(plan)
    doc_level = [(p, o) for p, o in windows if "doc_id#" in o]
    assert doc_level, "doc-level window (ordered by h, doc_id) missing"
    for part, _ in doc_level:
        assert "b#" in part, f"doc-level window must partition on b, got [{part}]"
    for part, order in windows:
        if "b#" not in part:  # the unpartitioned rollup
            assert "b#" in order.split(",")[0], (
                f"global Window must be the 256-row range rollup, got [{order}]"
            )


def test_rp01_joins_are_all_broadcast(spark, sf_dir):
    """The composed production pipeline joins facts against stats/user/
    review dims only via broadcast — a SortMergeJoin anywhere means a
    fact-side shuffle crept into the scorer."""
    plan = _plan(spark, sf_dir, "rp01_end_to_end_risk")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5  # 3 fallback + comp + user dims


#: Optimized-plan length bound for score_listings over empty dims: about
#: 22k characters with the spec kernel, about 590k with the with_specs
#: column tree inlined.
SCORE_LISTINGS_PLAN_CHARS = 60_000


def test_score_listings_runs_specs_as_one_arrow_udf(spark):
    """The poll-batch scorer extracts UD2 specs through ONE scalar Arrow
    UDF: exactly one ArrowEvalPython, none of the spec regex literals,
    and a plan that stays small — so the with_specs column tree cannot
    be re-inlined silently (its Catalyst cost dominates a poll cycle)."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions import (
        specs,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.risk import (
        score_listings,
    )

    def empty(schema):
        return spark.createDataFrame([], schema)

    scored = score_listings(
        empty(
            "id string, title string, description string, price double, "
            "api_condition string, is_refurbished boolean, user_id long"
        ),
        empty("category string, condition string, mean double, stdev double"),
        empty(
            "category string, condition string, comp_type string, "
            "comp_name string, mean double, stdev double"
        ),
        users=empty(
            "user_id long, register_days int, badges array<string>, "
            "user_type string, scam_reports int"
        ),
        reviews=empty("user_id long, scoring double"),
    )
    plan = scored._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    patterns = {
        name: getattr(specs, name)
        for name in dir(specs)
        if name.startswith(("RE_CPU_", "RE_GPU_")) or name == "RE_RAM"
    }
    assert len(patterns) == 9
    leaked = [name for name, pat in patterns.items() if pat in plan]
    assert not leaked, leaked
    assert len(plan) < SCORE_LISTINGS_PLAN_CHARS, len(plan)


def test_ds01_sample_is_shuffle_free(spark, sf_dir):
    """Stratified sampling is a filter on the scan — zero exchanges."""
    plan = _plan(spark, sf_dir, "ds01_stratified_sample")
    assert "Exchange" not in plan


def _formatted_plan(spark, sf_dir, name, **kw) -> str:
    """explain('formatted') text — unlike toString(), it prints each
    node's Input/Output column lists, so exchanges can be audited for
    what they actually carry."""
    import contextlib
    import io

    df = REGISTRY[name].fn(spark, sf_dir, **kw)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchange_payloads(
    formatted: str, *, skip_round_robin: bool = False
) -> list[str]:
    """The 'Input [..]: [cols]' line of every Exchange/BroadcastExchange
    node in a formatted plan. ``skip_round_robin=True`` drops the
    `_fan_scan` scan fan-out exchanges (RoundRobinPartitioning directly
    over the read): those exist ONLY on under-split single-row-group
    inputs — where the optimization guide's §2.5 prescription IS to
    repartition straight off the read — and vanish on production
    multi-row-group layouts, so they are not part of the 'data-moving
    shuffles never carry X' contract the tests pin."""
    lines = formatted.splitlines()
    out = []
    for i, line in enumerate(lines):
        if ") Exchange" in line or ") BroadcastExchange" in line:
            inp = None
            is_rr = False
            for nxt in lines[i + 1 : i + 5]:
                s = nxt.strip()
                if s.startswith("Input") and inp is None:
                    inp = nxt
                if s.startswith("Arguments") and "RoundRobinPartitioning" in s:
                    is_rr = True
            if inp is not None and not (skip_round_robin and is_rr):
                out.append(inp)
    return out


def _single_exchange_payload(spark, sf_dir, name) -> str:
    """The Input line of the plan's one data-moving exchange (the
    round-robin scan fan-out excluded, see _exchange_payloads); fails
    when the plan has none or more than one."""
    payloads = _exchange_payloads(
        _formatted_plan(spark, sf_dir, name), skip_round_robin=True
    )
    assert len(payloads) == 1, f"{name}: expected one exchange, got {payloads}"
    return payloads[0]


def _assert_semdedup_plan(spark, sf_dir, name) -> None:
    """SemDeDup's scale contract (dd10/dd11): the analyzed plan carries
    no hint, no all-pairs join appears, and the only exchange is the
    ``cell`` shuffle of (vec_id, cell, vn) — the raw embedding column
    never moves, and the scan reads only (vec_id, embedding)."""
    df = REGISTRY[name].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(cell#" in plan, plan
    payload = _single_exchange_payload(spark, sf_dir, name)
    assert all(c in payload for c in ("vec_id#", "cell#", "vn#")), payload
    assert "embedding#" not in payload, payload
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert read.strip() == "struct<vec_id:bigint,embedding:array<float>>", read


def test_cp01_text_never_shuffles(spark, sf_dir):
    """The curation pipeline computes every text-derived column in the
    scan projection; no DATA-MOVING exchange — hash/range shuffle or
    broadcast — may carry the raw text column at any scale. (The one
    round-robin scan fan-out exchange is excluded: it exists only on
    the single-row-group driver layout and is a no-op in production —
    see _exchange_payloads.)"""
    fmt = _formatted_plan(spark, sf_dir, "cp01_corpus_curation_pipeline")
    payloads = _exchange_payloads(fmt, skip_round_robin=True)
    assert payloads, "no exchanges found — plan parse failed?"
    for p in payloads:
        assert "text#" not in p, f"exchange carries raw text: {p}"


def test_ds05_corpus_never_shuffles(spark, sf_dir):
    """Source-mixture keep decisions are a codegen filter against
    broadcast rates: no exchange may carry doc-level rows (doc_id) —
    only the per-source counts and the rate dim move."""
    fmt = _formatted_plan(spark, sf_dir, "ds05_source_mixture")
    payloads = _exchange_payloads(fmt)
    assert payloads, "no exchanges found — plan parse failed?"
    for p in payloads:
        assert "doc_id#" not in p, f"exchange carries doc rows: {p}"


def test_ds06_distributed_prefix_sum_shape(spark, sf_dir):
    """Token-budget selection must not serialize the corpus through one
    global window: the doc-level running sum partitions on the quality
    stratum; an unpartitioned window is allowed only for the tiny
    per-stratum rollup (ordered by the stratum id)."""
    plan = _plan(spark, sf_dir, "ds06_token_budget_select")
    assert "BroadcastHashJoin" in plan  # stratum bases broadcast back
    assert "SortMergeJoin" not in plan
    windows = _parse_windows(plan)
    assert windows, "no Window nodes found in ds06 plan"
    doc_level = [(p, o) for p, o in windows if "doc_id#" in o]
    assert doc_level, "doc-level window (ordered by doc_id) missing"
    for part, _ in doc_level:
        assert "b#" in part, (
            f"doc-level window must partition on the quality stratum, got [{part}]"
        )
    for part, order in windows:
        if part == "":
            assert "b#" in order and "doc_id#" not in order, (
                f"unpartitioned window must be the stratum rollup, got [{order}]"
            )


def test_dd09_dictionary_join_is_not_hint_forced(spark, sf_dir):
    """dd09's boilerplate dictionary (df >= threshold) is plausibly
    sublinear but has NO hard cap (unlike txt07's top-K vocab), so its
    probe join must carry no broadcast hint — AQE elects broadcast vs
    shuffle from the dictionary's measured size (VERDICT r08 watch
    item). The join stays a keyed equi-join either way."""
    df = REGISTRY["dd09_boilerplate_spans"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_txt07_vocab_is_topk_and_broadcast(spark, sf_dir):
    """txt07's dictionary build must be TakeOrderedAndProject (top-K
    without a global sort) and probe back via broadcast."""
    plan = _plan(spark, sf_dir, "txt07_vocab_oov")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nn06_probe_join_broadcasts_queries_not_corpus(spark, sf_dir):
    """nn06's per-(query, probed cell) ADC tables ship inside its Arrow
    kernel: the plan's one data-moving exchange carries only the
    per-batch partial top-k (q_id, vec_id, adc) — the corpus embedding
    column never shuffles for the probe."""
    payload = _single_exchange_payload(spark, sf_dir, "nn06_residual_ivfpq")
    assert all(c in payload for c in ("q_id#", "vec_id#", "adc#")), payload
    assert "embedding#" not in payload, payload


def test_cp02_text_never_shuffles(spark, sf_dir):
    """The tokenizer-prep pipeline computes its only text-derived
    column (the dedup key) in the scan projection; no DATA-MOVING
    exchange — hash/range shuffle or broadcast — may carry the raw
    text column (the round-robin scan fan-out is excluded, see
    _exchange_payloads)."""
    fmt = _formatted_plan(spark, sf_dir, "cp02_tokenizer_prep_pipeline")
    payloads = _exchange_payloads(fmt, skip_round_robin=True)
    assert payloads, "no exchanges found — plan parse failed?"
    for p in payloads:
        assert "text#" not in p, f"exchange carries raw text: {p}"


def test_ds09_weighted_sample_is_shuffle_free(spark, sf_dir):
    """Quality-weighted sampling is a pure scan projection + filter: no
    exchange anywhere (the whole op is one codegen span over the scan),
    and the documents scan reads only the columns the sample needs."""
    plan = _plan(spark, sf_dir, "ds09_weighted_sample")
    assert "Exchange" not in plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read and "doc_id" in read
    assert "n_chars" not in read


def test_nn08_recall_gate_joins_broadcast_the_exact_set(spark, sf_dir):
    """The recall gate's hit-counting joins probe the bounded exact set
    (|queries| × k = 50 rows) as broadcasts. Since the twin/leg contract
    rows split out into nn09 (VERDICT r09 item 7), nn08's plan composes
    ONLY the six ANN paths against the broadcast exact set — no
    sort-merge join may appear anywhere."""
    plan = _plan(spark, sf_dir, "nn08_recall_gate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_nn09_twin_contract_joins_are_unhinted(spark, sf_dir):
    """The retrieval-leg contract gate's composed plan. The sort-merge
    joins allowed in ride in via the composed legs: tp02's
    deliberately-unhinted (lo, hi) pair-set anti-joins (the VERDICT r07
    de-broadcast fix) and rk01's depth-bounded (q_id, id) rank-fusion
    full-outers. The only hints the gate adds are the bounded leg-set
    broadcasts."""
    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )

    df = REGISTRY["nn09_twin_contracts"].fn(spark, sf_dir)
    # anchor relative to the composed components (the rk02 ADVICE
    # pattern — never a hard-coded literal): nn09 adds exactly TWO
    # hints of its own, the bounded iv-leg broadcasts (|queries| × k
    # rows each). The bf legs' internal hints don't appear in the
    # composed plan — their lineage hides behind the lazy
    # localCheckpoint placeholder — so the anchor sums only the two iv
    # legs.
    component_hints = sum(
        hints(REGISTRY[n].fn(spark, sf_dir, impl="ivf"))
        for n in ("tp02_hard_negatives", "rk01_rank_fusion")
    )
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == component_hints + 2
    # (BroadcastNestedLoopJoin appears legitimately: the single-row
    # hits × total crossJoins and the BNLJ of rk01's lexical leg, which
    # broadcasts its query block; the semantic legs run on the Arrow
    # scaffold and add none.)
    plan = qe.executedPlan().toString()
    for line in plan.splitlines():
        s = line.lstrip(" +-:*")
        if s.startswith("SortMergeJoin"):
            keys = s.split("]")[0]
            ok = ("LeftAnti" in s and "lo#" in keys) or (
                "FullOuter" in s and "q_id#" in keys
            )
            assert ok, (
                f"unexpected sort-merge join in nn09's composed plan: {s}"
            )


def test_dd11_assignment_lives_in_the_scan_projection(spark, sf_dir):
    """Hierarchical SemDeDup assigns coarse->fine cells in the Arrow
    kernel right over the embeddings scan, so nothing moves before the
    one ``cell`` shuffle — see _assert_semdedup_plan."""
    _assert_semdedup_plan(spark, sf_dir, "dd11_hierarchical_semdedup")


def test_ds10_rates_broadcast_onto_the_scan(spark, sf_dir):
    """Temperature resampling's scale contract: the per-language rates
    (dictionary-sized) come back as a BROADCAST onto the documents
    scan — the fact table itself never shuffles (no sort-merge join
    anywhere in the plan)."""
    plan = _plan(spark, sf_dir, "ds10_temperature_resample")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ch01_chunking_is_shuffle_free(spark, sf_dir):
    """Context-window chunking is a scan-side projection + generator:
    one Generate (the sequence explode) running in the scan stage, no
    exchange anywhere, and the documents scan pruned to the columns the
    chunker touches (n_chars/source never read)."""
    plan = _plan(spark, sf_dir, "ch01_context_chunks")
    assert "Exchange" not in plan
    assert "Generate" in plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read and "doc_id" in read
    assert "n_chars" not in read and "source" not in read


def test_ds11_thresholds_broadcast_onto_the_scan(spark, sf_dir):
    """The exact-quantile trim's scale contract: the prefix-sum window
    runs over the length HISTOGRAM (dictionary-sized), never the
    corpus — the only per-row work is the final count against the
    broadcast one-row threshold dim (no sort-merge join anywhere), and
    the corpus-side scan reads only (lang, n_chars)."""
    plan = _plan(spark, sf_dir, "ds11_length_quantile_trim")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row threshold dim
    # corpus-side scan pruned: at least one scan reads only lang+n_chars
    reads = [
        seg.split("\n")[0] for seg in plan.split("ReadSchema:")[1:]
    ]
    assert any(
        "lang" in r and "n_chars" in r and "text" not in r for r in reads
    )


def test_a14_exact_distinct_is_partial_agg_with_expand(spark, sf_dir):
    """The audit query's exact multi-column distinct goes through
    Spark's Expand rewrite with partial aggregation (map-side combine
    before the one shuffle on the 6-key group space); the HLL sketches
    ride the same aggregate — no extra shuffle for the approx side and
    no join anywhere."""
    plan = _plan(spark, sf_dir, "a14_approx_distinct_gate")
    assert "Expand" in plan
    assert "partial_" in plan
    assert "Join" not in plan


def test_w04_sessionize_single_shuffle(spark, sf_dir):
    """Sessionization's scale contract: exactly ONE hash exchange (on
    user_id) feeds both window passes AND the final session aggregate —
    Spark must reuse the user partitioning instead of re-shuffling
    between the lag, the running sum and the groupBy. The events scan
    is pruned (value/props never read)."""
    plan = _plan(spark, sf_dir, "w04_sessionize")
    import re

    hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_exchanges == 1, f"expected 1 hash exchange, got:\n{plan}"
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "user_id" in read and "ts" in read
    assert "value" not in read and "props" not in read


def test_cs01_source_overlap_is_partial_agg(spark, sf_dir):
    """The source-overlap audit's scale contract: the |sources|-key
    groupBy MUST have a map-side partial aggregate (the 64 slot-minima
    collapse per partition before the exchange — what makes a 5-key
    groupBy skew-proof), and the pairwise compare joins the tiny
    signature table without a sort-merge join."""
    plan = _plan(spark, sf_dir, "cs01_source_overlap")
    assert "partial_min" in plan
    assert "SortMergeJoin" not in plan


def test_j05_asof_is_single_shuffle_no_join(spark, sf_dir):
    """The as-of join's scale contract: the union+running-max rewrite
    plans as ONE hash exchange on user_id and ZERO join operators — in
    particular no BroadcastNestedLoopJoin, which is what Spark makes
    of the naive inequality formulation. The events scan is pruned."""
    plan = _plan(spark, sf_dir, "j05_asof_enrich")
    import re

    hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_exchanges == 1, f"expected 1 hash exchange, got:\n{plan}"
    assert "Join" not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "value" not in read and "props" not in read


def test_j06_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The binned range join's scale contract: the physical join is an
    equi-join on (user_id, bin) — hash- or sort-based — never a
    BroadcastNestedLoopJoin (the plan Spark produces for the raw
    inequality form, all-pairs per user)."""
    plan = _plan(spark, sf_dir, "j06_range_count")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_dd12_bloom_build_collapses_and_broadcasts(spark, sf_dir):
    """The bloom build's scale contract: the word-table groupBy has a
    map-side partial bit_or (the shuffle carries at most 4,096 partial
    words per partition no matter the corpus size) and the probe side
    joins the bloom by broadcast — the incoming corpus never sort-merge
    joins the filter. The ONLY hint in the plan is that ≤4,096-word
    bloom table (hard-capped, safe a priori); the exact-verification
    join against the historical distinct-hash set is corpus-sized, so
    it is UNHINTED and keyed on the int64 h — AQE elects its strategy
    from measured sizes (VERDICT r08 item 1)."""
    df = REGISTRY["dd12_bloom_incremental"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 1
    plan = qe.executedPlan().toString()
    assert "partial_bit_or" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dd10_verdict_join_is_not_hint_forced(spark, sf_dir):
    """SemDeDup decides keep/drop per cell after one ``cell`` shuffle;
    no step joins against the dup-rate-sized verdict set, and nothing
    carries a broadcast hint — see _assert_semdedup_plan."""
    _assert_semdedup_plan(spark, sf_dir, "dd10_semantic_dedup")


def test_ct03_hit_join_is_not_hint_forced(spark, sf_dir):
    """Semantic decontamination's verdict join probes the
    contaminated-id set, which is contamination-rate-sized with no
    a-priori bound (the benchmark here is a corpus slice) — so it must
    carry NO broadcast hint (VERDICT r08 item 1): AQE elects the
    strategy from measured sizes, and the join stays a keyed
    equi-join either way."""
    df = REGISTRY["ct03_semantic_contamination"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sk01_cms_cells_are_partial_agg(spark, sf_dir):
    """The sketch's scale contract: both the token count and the d*w
    cell sums are map-side partial aggregates (partial_count/
    partial_sum before their exchanges) — the whole point of a CMS is
    that the shuffled state is bounded by the sketch size."""
    plan = _plan(spark, sf_dir, "sk01_cms_heavy_hitters")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "partial_sum" in plan, plan


def test_tp01_antijoin_is_not_hint_forced(spark, sf_dir):
    """The pair miner's scale contract: the known-positive pair set is
    dup-rate-sized (billions of rows at 100 TB), so the anti-join
    against it must be a plain equi-anti on materialized (lo, hi) key
    columns with NO broadcast hint — AQE may elect broadcast at
    runtime, but a hint would force an executor OOM at scale. The only
    hint in the plan is the one-row corpus-size aggregate."""
    df = REGISTRY["tp01_contrastive_pairs"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 1
    plan = qe.executedPlan().toString()
    # equi-anti keyed on the orientation-normalized pair columns:
    # shuffled by default (AQE can still downgrade it to broadcast
    # from MEASURED sizes), never a nested-loop anti
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin BuildRight, LeftAnti" not in plan, plan


def test_pr01_profile_is_one_expand_aggregate(spark, sf_dir):
    """The profiler's scale contract: all 11 per-column distinct
    counts run through ONE Expand-based aggregate with map-side
    partial aggregation (the shuffled state is per-partition distinct
    sets, not the table), not 11 separate scans."""
    plan = _plan(spark, sf_dir, "pr01_table_profile")
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan, plan


def test_cdc01_delta_is_one_keyed_full_outer(spark, sf_dir):
    """The snapshot diff's scale contract: ONE full-outer sort-merge
    join keyed on doc_id (no cartesian anywhere), and both snapshot
    scans pruned to exactly the key + payload columns."""
    plan = _plan(spark, sf_dir, "cdc01_snapshot_delta")
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("ReadSchema: struct<doc_id:bigint,text:string>") == 2


def _assert_embedding_never_moves(spark, sf_dir, name, **kw) -> str:
    """The Arrow scaffold's scale contract, shared by every entry that
    scores a query block on it: no CartesianProduct, and no
    data-moving exchange carries the corpus ``embedding`` column (the
    query block ships inside the kernel; only scored rows shuffle).
    Returns the executed plan."""
    payloads = _exchange_payloads(
        _formatted_plan(spark, sf_dir, name, **kw), skip_round_robin=True
    )
    assert payloads, f"{name}: no exchanges found — plan parse failed?"
    for p in payloads:
        assert "embedding#" not in p, f"{name}: exchange carries embedding: {p}"
    plan = _plan(spark, sf_dir, name, **kw)
    assert "CartesianProduct" not in plan, plan
    return plan


def test_rk01_retrievers_broadcast_the_query_block(spark, sf_dir):
    """Rank fusion's scale contract: the lexical leg broadcasts the
    bounded query block over one documents scan (its one BNLJ), the
    semantic leg scores on the Arrow scaffold (no nested loop, the
    embedding column never shuffles), and only the depth-bounded rank
    lists meet in the fusion join."""
    plan = _assert_embedding_never_moves(spark, sf_dir, "rk01_rank_fusion")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_vc01_serial_window_sees_only_distinct_tf(spark, sf_dir):
    """The coverage curve's scale contract: one corpus scan, the
    token->tf groupBy with map-side partials, NO joins, and both
    windows run AFTER the distinct-tf collapse (never over the
    vocabulary or the corpus) — the plan has exactly two Window nodes
    and they sit above the second aggregate."""
    plan = _plan(spark, sf_dir, "vc01_vocab_coverage")
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, plan
    assert plan.count("Window") == 2, plan


def test_pd01_is_one_partial_aggregate(spark, sf_dir):
    """The padding audit's scale contract: one scan, one bucket-keyed
    aggregate with map-side partials (shuffled state is bucket-count
    sized), no joins, no windows."""
    plan = _plan(spark, sf_dir, "pd01_padding_efficiency")
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan, plan
    assert "Window" not in plan, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, plan


def test_tp02_exclusion_is_not_hint_forced(spark, sf_dir):
    """Hard-negative mining's scale contract: the dd02 positive set is
    dup-rate-sized, so its exclusion anti-join must be a plain
    equi-anti on materialized (lo, hi) key columns with NO broadcast
    hint (AQE decides from measured sizes); the scoring leg is the
    Arrow scaffold, so the plan carries no hint at all, the embedding
    column never shuffles and nothing degenerates to a
    CartesianProduct."""
    df = REGISTRY["tp02_hard_negatives"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = _assert_embedding_never_moves(spark, sf_dir, "tp02_hard_negatives")
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin BuildRight, LeftAnti" not in plan, plan


def test_co01_quadratic_is_basket_confined(spark, sf_dir):
    """Co-occurrence's scale contract (r13 in-row rewrite): the pairs
    explode IN-ROW from a collect_set basket — ONE pruned scan, no
    self-join of any kind, and the pair aggregate still gets map-side
    partial aggregation."""
    plan = _plan(spark, sf_dir, "co01_supplier_cooccurrence")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert (
        plan.count("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>")
        == 1
    ), plan
    assert "collect_set" in plan, plan
    assert "partial_count" in plan, plan


@pytest.mark.parametrize("impl", ["bf", "ivf"])
def test_ivf_retrieval_legs_probe_instead_of_scan(spark, sf_dir, impl):
    """Both forms of the tp02/rk01 retrieval legs share one scale
    contract: candidate generation runs inside the Arrow scaffold (the
    ivf form only adds the probe gate), so tp02 has no nested loop and
    rk01 keeps exactly its lexical leg's single BNLJ; the embedding
    column never shuffles and the pair-set anti-join stays the
    unhinted shuffled equi-anti."""
    tp = _assert_embedding_never_moves(
        spark, sf_dir, "tp02_hard_negatives", impl=impl
    )
    assert "BroadcastNestedLoopJoin" not in tp, tp
    assert "SortMergeJoin" in tp and "LeftAnti" in tp, tp
    rk = _assert_embedding_never_moves(spark, sf_dir, "rk01_rank_fusion", impl=impl)
    assert rk.count("BroadcastNestedLoopJoin") == 1, rk


def test_cp03_history_feeds_only_the_bloom(spark, sf_dir):
    """The incremental pipeline's scale contract (VERDICT r07 item 5):
    the historical corpus is read only to build collapsed state — the
    ≤4,096-word bloom (map-side partial bit_or, broadcast: hard-capped
    so the hint is safe) and the eval slice's DISTINCT hashes (joined
    unhinted on the int64 h — AQE may broadcast or sort-merge from
    measured sizes). The only joins allowed to shuffle are keyed on
    doc_id (the snapshot diff; Catalyst narrows the full-outer to an
    outer join under the incoming filter) or on the int64 hash h (the
    eval exclusion) — never on raw shingle strings, and nothing may
    degenerate to a nested loop."""
    df = REGISTRY["cp03_incremental_pipeline"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for line in plan.splitlines():
        s = line.lstrip(" +-:*")
        if s.startswith("SortMergeJoin"):
            keys = s.split("]")[0]
            assert "doc_id#" in keys or "h#" in keys, (
                f"string-keyed sort-merge join in cp03: {s}"
            )
    # the bloom build's shuffled state is word-bounded: partial bit_or
    agg_lines = [
        l for l in plan.splitlines()
        if "HashAggregate" in l and "bit_or" in l and "partial" in l
    ]
    assert agg_lines, "bloom build lost its map-side partial bit_or"


def test_tk01_pair_counts_collapse_before_shuffle(spark, sf_dir):
    """BPE merge mining's scale contract: the corpus collapses to the
    word dictionary with map-side partial counts BEFORE any shuffle,
    the pair aggregate is likewise partial-combined, there are no joins
    anywhere, and the single ranking window runs unpartitioned over the
    alphabet²-bounded pair table (after both collapses) — exactly two
    HashAggregate pairs and one Window in the plan."""
    plan = _plan(spark, sf_dir, "tk01_bpe_merge_mining")
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan, plan
    assert plan.count("Window") == 1, plan


def test_a15_rollup_is_one_expand_scan(spark, sf_dir):
    """The mixture rollup's scale contract: all three granularities run
    through ONE Expand feeding a single hash aggregate with map-side
    partial aggregation over one corpus scan — never the naive 3-query
    union (three scans), and no joins anywhere."""
    plan = _plan(spark, sf_dir, "a15_mixture_rollup")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, plan


def test_tp03_triplet_cross_is_anchor_confined(spark, sf_dir):
    """Triplet assembly's scale contract: the positive x negative cross
    is an equi-join on anchor_id (bounded per-anchor fan-out — the
    basket argument), the cosine annotations are id-keyed equi-joins,
    and nothing degenerates to a CartesianProduct or nested loop."""
    df = REGISTRY["tp03_triplet_assembly"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dd13_quadratic_is_fingerprint_confined(spark, sf_dir):
    """Winnowing dedup's scale contract: fingerprints are computed in
    the scan projection and de-duplicated per doc BEFORE the explode,
    the only join keys on the int64 fingerprint (the dd02 banding
    argument — never an all-pairs stage), and the pair aggregate gets
    map-side partial aggregation."""
    plan = _plan(spark, sf_dir, "dd13_winnow_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan
    joins = [
        l.lstrip(" +-:*") for l in plan.splitlines()
        if l.lstrip(" +-:*").startswith(("SortMergeJoin", "BroadcastHashJoin"))
    ]
    assert joins, "pair join missing"
    for j in joins:
        assert "fp#" in j.split("]")[0], f"non-fingerprint join key: {j}"


def test_w05_single_user_shuffle_and_scan(spark, sf_dir):
    """Cohort retention's scale contract: ONE events scan and ONE
    corpus-sized shuffle (the per-user aggregate producing both the
    cohort week and the distinct active-week set); everything
    downstream aggregates cohort-sized tables and the matrix x size
    join is a broadcast — never a second pass over the events."""
    plan = _plan(spark, sf_dir, "w05_cohort_retention")
    # the per-user aggregate is localCheckpoint-materialized: the final
    # plan reads the SAME computed RDD for both branches and never
    # touches the events parquet again (the one scan + one user_id
    # shuffle live in the checkpoint's parent lineage, executed once)
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "Exchange hashpartitioning(user_id" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lm01_dictionaries_collapse_before_the_joins(spark, sf_dir):
    """Bigram-LM scoring's scale contract: the bigram dictionary is a
    map-side-partial-collapsed aggregate (vocabulary-bounded shuffle),
    the prefix dictionary derives from the BIGRAM dictionary (no second
    corpus aggregate over raw tokens), the dictionary joins never
    degenerate to nested loops, and no Python UDF appears anywhere —
    the fold is F.aggregate inside codegen."""
    plan = _plan(spark, sf_dir, "lm01_bigram_likelihood")
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_a16_pinned_pivot_is_one_aggregate(spark, sf_dir):
    """The pivot's scale contract: pinned values mean NO distinct-values
    pre-job — the plan is one scan into one user_id-keyed hash
    aggregate with map-side partial pivot counts; no joins, no
    windows, no second pass."""
    plan = _plan(spark, sf_dir, "a16_event_type_pivot")
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan or "partial_pivotfirst" in plan.lower(), plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "Window"):
        assert j not in plan, plan


def test_dd14_shared_set_join_is_not_hint_forced(spark, sf_dir):
    """Span dedup's scale contract: the shared-hash set (df >= 2) is
    dup-rate-sized, so the coverage semi-join must carry NO broadcast
    hint (the r09 de-broadcast rule) — AQE elects the strategy from
    measured sizes; the positional-hash stream is materialized once
    (two ExistingRDD consumers: the dictionary agg and the coverage
    join) so the corpus is tokenized exactly once; no pair join exists
    anywhere (dd13 owns who-matches-whom), so nothing can degenerate
    to a nested loop."""
    df = REGISTRY["dd14_duplicate_spans"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "partial_count" in plan, plan


def test_tk02_rounds_iterate_the_dictionary_not_the_corpus(spark, sf_dir):
    """The BPE trainer's scale contract: the corpus collapses ONCE to
    the word dictionary (one parquet scan with a map-side partial
    count, asserted on the rebuilt pre-checkpoint stage), and every
    merge round consumes lineage-cut dictionary state — the final
    8-round plan contains ZERO parquet scans (8 ExistingRDD reads, one
    per round's argmax) and no cartesian product (the one-row merge
    dims ride bounded broadcasts)."""
    from pyspark.sql import functions as F

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.textstats import (
        tokens,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _TK2_ROUNDS,
        _t,
    )

    # the dictionary stage, rebuilt without its lineage cut
    wd0 = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = wd0._jdf.queryExecution().executedPlan().toString()
    assert wp.count("Scan parquet") == 1, wp
    assert "partial_count" in wp, wp

    plan = _plan(spark, sf_dir, "tk02_bpe_trainer")
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == _TK2_ROUNDS, plan
    assert "CartesianProduct" not in plan, plan


def test_mm03_payload_never_shuffles(spark, sf_dir):
    """The alignment scorer's scale contract: payload bytes and raw
    text stay inside the mapInPandas stage / scan projections — no
    exchange (shuffle or broadcast) may carry them; only the 4-int
    feature rows, the id->source dim, and the embedding head meet in
    the keyed joins, and those joins carry no broadcast hint (AQE
    decides — both sides are corpus-sized)."""
    fmt = _formatted_plan(spark, sf_dir, "mm03_alignment_score")
    payloads = _exchange_payloads(fmt)
    assert payloads, "no exchanges found — plan parse failed?"
    for p in payloads:
        assert "payload#" not in p and "text#" not in p, (
            f"exchange carries raw payload/text: {p}"
        )
    df = REGISTRY["mm03_alignment_score"].fn(spark, sf_dir)
    assert (
        df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")
        == 0
    )


def test_ds12_corpus_never_shuffles(spark, sf_dir):
    """The epoch allocator's scale contract: one parquet scan collapses
    the corpus to per-source supplies with a map-side partial sum; the
    only hint is the ONE-ROW budget total (bounded a priori — the only
    hint class the r09 rule allows); everything downstream is
    projection arithmetic over the dimension-sized supply table."""
    df = REGISTRY["ds12_epoch_allocation"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 1
    plan = qe.executedPlan().toString()
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dd15_scrub_joins_are_not_hint_forced(spark, sf_dir):
    """The span scrubber's scale contract: it composes dd14's unhinted
    plan and adds an anti-join keyed on (doc_id, pos) against the
    dup-rate-sized removal set plus one per-doc reassembly aggregate —
    zero broadcast hints anywhere, no nested loop, and the raw text
    never enters an exchange (only (pos, token) pairs of kept
    positions do)."""
    df = REGISTRY["dd15_span_scrub"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    fmt = _formatted_plan(spark, sf_dir, "dd15_span_scrub")
    for p in _exchange_payloads(fmt):
        assert "text#" not in p, f"exchange carries raw text: {p}"


def test_tk03_audit_is_a_projection_over_the_final_dictionary(spark, sf_dir):
    """The compression audit's scale contract: identical to tk02 (the
    shared chain — zero corpus rescans in the final plan, the last
    round's checkpointed dictionary is the single input) plus a pure
    projection: no joins, no windows, no aggregates after the chain."""
    plan = _plan(spark, sf_dir, "tk03_bpe_compression")
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 1, plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "Window", "HashAggregate"):
        assert node not in plan, plan


def test_a17_funnel_stage_joins_are_not_hint_forced(spark, sf_dir):
    """The funnel's scale contract: stage tables are conversion-rate-
    sized with no a-priori bound, so the stage joins carry NO broadcast
    hint (AQE decides from measured sizes); each stage aggregate gets
    map-side partial min/count; the only serial window runs over the
    4 assembled stage rows, and nothing degenerates to a nested
    loop."""
    df = REGISTRY["a17_conversion_funnel"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_min" in plan or "partial_count" in plan, plan


def test_rk02_eval_joins_stay_depth_bounded(spark, sf_dir):
    """The eval harness's scale contract: the truth leg is rk01's own
    semantic leg on the Arrow scaffold, so the composed plan has exactly
    rk01's BNLJ count (the lexical leg's) and no nested loop of its
    own, the embedding column never shuffles, the metric join touches
    only depth-bounded lists, and no CartesianProduct appears. The
    count anchors to rk01's OWN plan, so a benign rk01 plan change or
    AQE strategy shift cannot break it without a real regression."""
    rk01_plan = _plan(spark, sf_dir, "rk01_rank_fusion")
    n_base = rk01_plan.count("BroadcastNestedLoopJoin")
    plan = _assert_embedding_never_moves(spark, sf_dir, "rk02_retrieval_eval")
    assert plan.count("BroadcastNestedLoopJoin") == n_base, plan


def test_mm04_payload_never_shuffles_and_shared_set_unhinted(spark, sf_dir):
    """Frame dedup's scale contract: payload bytes and raw text stay
    inside the mapInPandas stage (no exchange carries them — only
    fixed-width digest rows shuffle); the shared-digest set is
    dup-rate-sized, so its coverage join carries NO broadcast hint
    (AQE decides); no pair join exists, so nothing can degenerate to
    a nested loop."""
    df = REGISTRY["mm04_frame_dedup"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    fmt = _formatted_plan(spark, sf_dir, "mm04_frame_dedup")
    for p in _exchange_payloads(fmt):
        assert "payload#" not in p and "text#" not in p, (
            f"exchange carries raw payload/text: {p}"
        )


def test_dd16_is_one_keyed_aggregate_over_a_pruned_scan(spark, sf_dir):
    """URL dedup's scale contract: the whole canonicalization chain is
    scan-projection work (no UDF, no join anywhere), the documents scan
    reads only the columns the URL derivation needs (doc_id, lang —
    never text), and the only exchanges are the two keyed aggregate
    hops of the exact distinct-variant count (partial distinct on
    (canonical_url, url), then the final rollup on canonical_url) —
    both partition on the canonical URL, with map-side partial
    aggregation."""
    plan = _plan(spark, sf_dir, "dd16_url_dedup")
    assert plan.count("Exchange") == 2, plan
    for chunk in plan.split("Exchange hashpartitioning")[1:]:
        assert "canonical_url#" in chunk.split("\n")[0], plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BatchEvalPython"):
        assert node not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "doc_id" in read and "lang" in read
    assert "text" not in read, read
    assert "partial" in plan.lower(), plan


def test_tk04_encode_consumes_checkpointed_tokens_unhinted(spark, sf_dir):
    """The encode pass's scale contract: the corpus parquet is scanned
    ZERO times in the final plan — the one exploded (doc_id, word)
    stream is a lazy localCheckpoint feeding both the dictionary build
    and the encode join (it prints as Scan ExistingRDD, the tk02 pin
    trick) — no Python UDF appears, and the encode join carries NO
    broadcast hint (the vocab side is a-priori unbounded; AQE elects
    from measured sizes): the analyzed plan shows ZERO ResolvedHints —
    the tk02 chain's one-row merge-dim hints live behind the final
    dictionary's checkpoint placeholder, and the encode pass adds none
    of its own."""
    df = REGISTRY["tk04_bpe_encode"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cp04_pipeline_prunes_tokens_from_every_exchange(spark, sf_dir):
    """The composed scrub pipeline's scale contract: cp04 consumes only
    dd15's per-doc COUNTS, so Catalyst must prune the fingerprint
    reassembly away — no exchange may carry the token column (tkn) or
    raw text; everything that shuffles is integer ids/counts plus the
    source dimension. The analyzed plan carries exactly ONE hint: the
    allocation tail's one-row budget broadcast (bounded a priori) —
    the dd14/dd15 joins and the per-source rollup stay unhinted."""
    df = REGISTRY["cp04_span_scrub_pipeline"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 1
    payloads = _exchange_payloads(
        _formatted_plan(spark, sf_dir, "cp04_span_scrub_pipeline")
    )
    assert payloads, "no exchanges found — plan parse failed?"
    for p in payloads:
        assert "text#" not in p and "tkn#" not in p, p


def test_rk03_ndcg_joins_stay_depth_bounded(spark, sf_dir):
    """NDCG's scale contract mirrors rk02's: the graded-truth leg runs
    on the Arrow scaffold, so the composed plan has exactly rk01's BNLJ
    count (anchored relative, never a literal), the embedding column
    never shuffles, the metric join and per-query fold touch only
    depth-bounded rows, and no CartesianProduct appears."""
    rk01_plan = _plan(spark, sf_dir, "rk01_rank_fusion")
    n_base = rk01_plan.count("BroadcastNestedLoopJoin")
    plan = _assert_embedding_never_moves(spark, sf_dir, "rk03_ndcg")
    assert plan.count("BroadcastNestedLoopJoin") == n_base, plan


def test_mm05_payload_never_shuffles_and_adds_no_hints(spark, sf_dir):
    """Joint pair dedup's scale contract: the composition adds only
    LEFT joins keyed on the int64 media_id and a partner rollup — no
    exchange anywhere in the composed plan may carry media payload
    bytes or raw text (digests, 4-int features and ids only), and the
    composition introduces ZERO broadcast hints of its own: the
    analyzed hint count equals the sum over its three composed legs
    (anchored relative, never a literal — the ADVICE r09 rule)."""
    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )

    df = REGISTRY["mm05_pair_dedup"].fn(spark, sf_dir)
    component_hints = sum(
        hints(REGISTRY[n].fn(spark, sf_dir))
        for n in (
            "mm04_frame_dedup",
            "dd02_minhash_lsh_pairs",
            "mm03_alignment_score",
        )
    )
    assert hints(df) == component_hints
    fmt = _formatted_plan(spark, sf_dir, "mm05_pair_dedup")
    payloads = _exchange_payloads(fmt)
    assert payloads, "no exchanges found — plan parse failed?"
    for p in payloads:
        assert "payload#" not in p and "text#" not in p, p


def test_w06_sliding_frame_is_partitioned_and_pruned(spark, sf_dir):
    """The sliding window's scale contract: ONE hash exchange on
    user_id (never a single global partition), the Window node
    partitions on user_id and orders by the integer epoch key, no
    self-join exists (the naive inequality-join rewrite explodes
    quadratically per user), and the events scan reads only the four
    columns the window needs."""
    plan = _plan(spark, sf_dir, "w06_sliding_window")
    assert "Join" not in plan, plan
    windows = _parse_windows(plan)
    assert windows, "no Window node found"
    for part, order in windows:
        assert "user_id#" in part, f"window must partition on user_id: {part}"
        assert "us#" in order, f"window must order by epoch micros: {order}"
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    for col in ("event_id", "user_id", "ts", "value"):
        assert col in read, read
    assert "props" not in read and "event_type" not in read, read


def test_a18_rollup_is_one_expand_aggregate(spark, sf_dir):
    """The rollup's scale contract: the whole subtotal lattice comes
    from ONE scan → one Expand (3 replicas, one per grouping set) →
    one keyed aggregate with map-side partials — no join, no union of
    re-scans; and the lineitem scan reads only the group columns +
    quantity."""
    plan = _plan(spark, sf_dir, "a18_rollup_cube")
    assert plan.count("Expand") >= 1, plan
    assert "Join" not in plan and "Union" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "partial" in plan.lower(), plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_quantity" in read and "l_returnflag" in read, read
    assert "l_extendedprice" not in read, read


def test_u13_unpivot_is_one_expand_not_a_union_of_scans(spark, sf_dir):
    """Unpivot's scale contract: the wide→long reshape is ONE parquet
    scan through one Expand node (a row replica per measure column) —
    never the naive UNION ALL of per-column re-scans the oracle spells
    — followed by the two keyed aggregate hops of the exact distinct
    count; no join anywhere, and the scan reads exactly the four
    measure columns."""
    plan = _plan(spark, sf_dir, "u13_unpivot_long")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan
    assert "Union" not in plan and "Join" not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_quantity" in read and "l_tax" in read, read
    assert "l_orderkey" not in read, read


def test_gr01_pagerank_is_unhinted_with_topk_pushdown(spark, sf_dir):
    """Integer PageRank's scale contract: every per-round score join is
    UNHINTED (the score side is node-sized, a priori unbounded — zero
    ResolvedHints in the analyzed plan; AQE elects strategies), the
    leaderboard is a TakeOrderedAndProject (top-k pushdown, never a
    global sort feeding a single-partition rank over all nodes), and
    the lineitem scan reads only (l_orderkey, l_suppkey)."""
    df = REGISTRY["gr01_integer_pagerank"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 0
    plan = qe.executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_j07_spatial_join_is_grid_bucketed_not_quadratic(spark, sf_dir):
    """The spatial radius self-join's scale contract: candidates are
    grid-confined — the physical plan contains NO CartesianProduct and
    NO BroadcastNestedLoopJoin (the naive all-pairs shape); the 3x3
    cell replication comes from a Generate (literal-array explode),
    never a join against an offsets table; and the events scan reads
    only (event_id, value)."""
    plan = _plan(spark, sf_dir, "j07_grid_spatial_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan, plan
    reads = [c.split("\n")[0] for c in plan.split("ReadSchema:")[1:]]
    # pair sides read (event_id, value); the zero-neighbor re-entry
    # base prunes all the way down to event_id alone
    assert any("event_id" in r and "value" in r for r in reads), reads
    assert all("user_id" not in r and "props" not in r for r in reads), reads


def test_lm02_model_training_prunes_to_the_train_slice(spark, sf_dir):
    """The held-out-LM filter's scale contract: the model-training legs
    (bigram dictionary + Laplace vocabulary) push the lang = 'en'
    predicate into their parquet scans (training never reads the
    out-of-domain corpus), the head-count table derives from the
    bigram dictionary (no extra corpus scan for it), and the model
    joins are UNHINTED — AQE elects broadcast from measured dictionary
    sizes (the dd10/dd12 rule: no a-priori-unbounded broadcast)."""
    df = REGISTRY["lm02_crossentropy_buckets"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") <= 1  # the 1-row V scalar only
    plan = qe.executedPlan().toString()
    assert "EqualTo(lang,en)" in plan, plan
    # corpus scans: the all-docs bigram stream + the two pruned train
    # legs — never more (the head table must reuse the bigram dict)
    assert plan.count("Scan parquet") <= 3, plan


def test_qf01_classifier_apply_is_a_zero_shuffle_projection(spark, sf_dir):
    """Classifier inference at scale is a projection: ONE parquet scan
    reading exactly (doc_id, source, text), NO Exchange, no join, no
    aggregate — the model weights live in the expression tree and the
    whole score evaluates inside whole-stage codegen."""
    plan = _plan(spark, sf_dir, "qf01_linear_quality_classifier")
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "HashAggregate" not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "doc_id" in read and "source" in read and "text" in read, read
    assert "lang" not in read and "n_chars" not in read, read


def test_u14_set_ops_push_filters_and_stay_equi_joined(spark, sf_dir):
    """The table set-ops' scale contract: each leg's event_type
    predicate reaches the parquet scan (the two inputs are pushed-down
    slices, not post-scan filters of a full read), and the set
    operators compile to hash-keyed joins/aggregates — no
    BroadcastNestedLoopJoin, no CartesianProduct."""
    plan = _plan(spark, sf_dir, "u14_table_set_ops")
    assert "EqualTo(event_type,purchase)" in plan, plan
    assert "EqualTo(event_type,error)" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gr02_triangle_census_stays_equi_joined(spark, sf_dir):
    """The triangle census's scale contract: the wedge join and the
    closure probe are hash-keyed equi-joins on the pair-sized edge set
    — no CartesianProduct and no BroadcastNestedLoopJoin anywhere (the
    y < z wedge ordering rides the equi-join as a post-condition, it
    must never become the join itself)."""
    plan = _plan(spark, sf_dir, "gr02_dup_graph_cohesion")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cdc02_scd2_is_one_key_shuffle(spark, sf_dir):
    """SCD2's scale contract: both window passes partition by user_id
    (never an unpartitioned single-task window), they share ONE key
    shuffle (a single Exchange in the plan — the change-point filter
    and the valid_to/version windows ride the same partitioning), no
    join, and the events scan reads only the four needed columns."""
    plan = _plan(spark, sf_dir, "cdc02_scd2_intervals")
    wins = _parse_windows(plan)
    assert wins, plan
    assert all("user_id" in part for part, _ in wins), wins
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    for col in ("event_id", "ts", "user_id", "event_type"):
        assert col in read, read
    assert "value" not in read and "props" not in read, read


def test_j08_interval_overlap_is_day_binned(spark, sf_dir):
    """The interval-overlap join's scale contract: both interval sets
    explode into day bins via Generates (never a join against a
    calendar table), candidates meet in a day-keyed equi-join — no
    CartesianProduct, no BroadcastNestedLoopJoin — and the islands
    window runs over the day DICTIONARY, not the event stream (its
    input is the aggregated hot-day table)."""
    plan = _plan(spark, sf_dir, "j08_interval_overlap_join")
    assert "CartesianProduct" not in plan, plan
    # the single-row totals broadcast (hot-day cut) is the only
    # nested-loop shape allowed; the overlap join itself must be keyed
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert plan.count("Generate explode") >= 2, plan


def test_pii03_is_two_aggregates_one_scan(spark, sf_dir):
    """The k-anonymity audit's scale contract: one 3-column customer
    scan feeding exactly two keyed HashAggregate pairs (full QI key,
    then its prefix) — no join, no window, no extra scan."""
    plan = _plan(spark, sf_dir, "pii03_k_anonymity")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    for col in ("c_mktsegment", "c_nationkey", "c_acctbal"):
        assert col in read, read
    assert "c_name" not in read, read


def test_cp05_stage_attribution_is_one_case_not_three_passes(spark, sf_dir):
    """The quality gate's scale contract: rules + classifier annotate
    the corpus in ONE projection (no Union of per-stage filter legs —
    the naive three-passes-over-the-corpus shape), the LM leg joins
    once on doc_id, and that join is UNHINTED (both sides corpus-
    sized; zero ResolvedHints besides lm02's own 1-row V scalar)."""
    df = REGISTRY["cp05_quality_gate_pipeline"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") <= 1
    plan = qe.executedPlan().toString()
    assert "Union" not in plan, plan


def test_a19_robust_stats_broadcasts_dims_facts_never_sortmerge(
    spark, sf_dir
):
    """The robust-stats profile's scale contract: the brand enrichment
    and both stat-dim joins are BROADCAST (the a06 rule — the fact
    stream never sort-merge-shuffles for dim math; the only fact
    shuffles are the two exact-median aggregates, which genuinely need
    the group's values), and the lineitem scan reads only the join key
    + price."""
    plan = _plan(spark, sf_dir, "a19_robust_zscore")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    reads = [c.split("\n")[0] for c in plan.split("ReadSchema:")[1:]]
    li = [r for r in reads if "l_partkey" in r]
    assert li and all(
        "l_extendedprice" in r and "l_quantity" not in r for r in li
    ), reads


def test_er01_edit_distance_runs_only_on_blocked_pairs(spark, sf_dir):
    """Entity resolution's scale contract: the Levenshtein DP never
    sees unblocked pairs — the candidate join is a hash equi-join on
    the blocking key (second character) with the length band and the
    distance cut as post-conditions; no CartesianProduct, no
    BroadcastNestedLoopJoin."""
    plan = _plan(spark, sf_dir, "er01_fuzzy_match")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan


def test_ts01_locf_window_is_partitioned_calendar_broadcast(spark, sf_dir):
    """Gap fill's scale contract: the LOCF window partitions by
    user_id (never a single-task global sort over the grid), and the
    calendar dictionary reaches the densification cross join as a
    broadcast (the grid build must not shuffle the user dictionary
    against a days table)."""
    plan = _plan(spark, sf_dir, "ts01_gap_fill_locf")
    wins = _parse_windows(plan)
    assert wins and all("user_id" in part for part, _ in wins), wins
    assert "BroadcastNestedLoopJoin" in plan, plan  # dims x calendar
    assert "CartesianProduct" not in plan, plan


def test_dq01_drift_is_one_corpus_shuffle_then_grid_sized(spark, sf_dir):
    """The drift monitor's scale contract: ONE documents scan feeds the
    contingency aggregate; marginals derive from the contingency table
    (never a second corpus pass — the single parquet scan proves it),
    the dense grid joins are broadcasts, and no nested-loop shape
    beyond the two tiny broadcast cross joins (marginal dictionary and
    the 1-row grand total)."""
    plan = _plan(spark, sf_dir, "dq01_segment_drift")
    # the contingency table is localCheckpoint-materialized, so the
    # ONE corpus scan lives inside the (plan-invisible) checkpointed
    # segment and all four consumers read the materialized table —
    # exactly 4 ExistingRDD scans and ZERO parquet re-scans visible
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 4, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_dq02_rules_are_batched_not_one_pass_per_rule(spark, sf_dir):
    """The expectation suite's scale contract: rule evaluation is
    BATCHED — the four orders rules share one aggregate pass, the
    lineitem rule one, and both cross-table rules one left join — and
    the three one-row aggregates are localCheckpoint-materialized so
    the seven union legs read materialized rows instead of each
    re-scanning the lake (Spark does not share subplans across union
    branches). Pinned: ZERO parquet scans in the visible plan (they
    all live inside the three checkpointed passes), exactly 7
    ExistingRDD leg reads, no nested-loop join."""
    plan = _plan(spark, sf_dir, "dq02_expectation_suite")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 7, plan


def test_ivm01_merge_is_a_union_of_partials(spark, sf_dir):
    """IVM's scale contract: the merge aggregate consumes a Union of
    the two partial tables (delta-sized state movement, map-side
    combinable) — never a re-join of raw history — and no nested-loop
    shape beyond the 1-row cutoff broadcast."""
    plan = _plan(spark, sf_dir, "ivm01_partial_merge")
    assert "Union" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan  # 1-row dmax


def test_zo01_zorder_is_one_scan_one_aggregate(spark, sf_dir):
    """The layout audit's scale contract: the 32-term Morton
    interleave is a pure projection on ONE events scan (codegen — no
    join, no window, no Python), followed by a single keyed
    aggregate."""
    plan = _plan(spark, sf_dir, "zo01_zorder_layout")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "event_id" in read and "value" in read and "props" not in read, read


def test_j09_attribution_is_bin_keyed_not_user_quadratic(spark, sf_dir):
    """The keyed attribution join's scale contract: candidates meet in
    a hash equi-join on (user, hour-bin) — the hot-user quadratic is
    bounded per bin — with the click side replicated into exactly its
    two reachable bins by a Generate; no CartesianProduct, no
    BroadcastNestedLoopJoin, and the range predicate rides the join as
    a post-condition."""
    plan = _plan(spark, sf_dir, "j09_attribution_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan, plan


def test_j10_last_touch_is_bin_keyed_argmax_not_window(spark, sf_dir):
    """Last-touch rides j09's bin trick mirrored (the PURCHASE side
    replicates via a Generate) and the arg-max is a partial-aggregated
    max(struct) — never a per-purchase sort window, never a nested
    loop."""
    plan = _plan(spark, sf_dir, "j10_last_touch_attribution")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan, plan
    assert not _parse_windows(plan), plan  # arg-max is an aggregate


def test_gr03_components_stay_unhinted_equi_joined(spark, sf_dir):
    """The census joins the node set to the kernel's checkpointed
    labels with a keyed equi-join and folds it in one aggregate: no
    cartesian product, no nested loop, and no broadcast HINT (the node
    side is a-priori unbounded; AQE elects strategies)."""
    df = REGISTRY["gr03_connected_components"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert "ResolvedHint" not in qe.analyzed().toString()
    plan = qe.executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivm02_merge_is_a_union_of_signed_partials(spark, sf_dir):
    """Retraction changes the ALGEBRA, not the plan: like ivm01, the
    merge aggregate consumes a Union of partial-aggregate legs; no
    nested-loop join anywhere."""
    plan = _plan(spark, sf_dir, "ivm02_retraction_merge")
    assert "CartesianProduct" not in plan, plan
    assert "Union" in plan, plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan, plan


def test_zo02_probe_join_is_broadcast(spark, sf_dir):
    """The write-leg audit's only join is the 4-row probe set meeting
    the file ledger — broadcast, never a shuffle join; the global
    z-sort windows are the audit's documented surrogate for the
    production repartitionByRange (exercised for real in
    test_zorder_write.py)."""
    plan = _plan(spark, sf_dir, "zo02_zorder_file_pruning")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan
    )


def test_ds13_mmr_is_one_arrow_shortlist_and_a_driver_greedy(spark, sf_dir):
    """MMR's distributed work is the query block, one Arrow shortlist
    scan and one bounded fetch of the ≤C shortlisted vectors; the
    K-round greedy runs on the driver. So the call takes a small fixed
    number of jobs whatever K is, and the returned frame is a ≤K-row
    local relation: no exchange, no join."""
    sc = spark.sparkContext
    sc.setJobGroup("ds13-jobs", "ds13 jobs per call")
    try:
        df = REGISTRY["ds13_mmr_diverse_select"].fn(spark, sf_dir)
        assert len(df.collect()) == 8
        jobs = len(sc.statusTracker().getJobIdsForGroup("ds13-jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs <= 8, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Join", "CartesianProduct"):
        assert node not in plan, plan


def test_ix02_serving_reads_postings_not_corpus(spark, sf_dir):
    """BM25 serving's scale contract (VERDICT r11 item 2 asked for a
    plan that READS the index; VERDICT r12 item 2 asked for it to read
    a STORED artifact, not an in-session checkpoint): the posting side
    of the serving join is ix03's parquet index artifact, so the plan
    scans exactly TWO parquet sources — the bounded query block and
    the vocabulary-sized stored index — and never the corpus text
    (no tokenize/explode anywhere); ranking is a query-PARTITIONED
    window (never a global sort), and nothing nested-loops."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _ix03_artifact_path,
    )

    artifact = _ix03_artifact_path(spark, sf_dir)
    plan = _plan(spark, sf_dir, "ix02_bm25_topk")
    assert "Scan ExistingRDD" not in plan, plan  # stored, not checkpointed
    assert plan.count("Scan parquet") == 2, plan  # query block + index
    assert os.path.basename(artifact) in plan, plan  # one IS the artifact
    # the corpus is never re-tokenized at serving time: the only
    # explode is the bounded query block's term fanout
    assert plan.count("Generate") <= 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    windows = _parse_windows(plan)
    assert windows and all(p for p, _ in windows), windows


def test_ix03_audit_is_bucket_aggregate_over_stored_artifact(spark, sf_dir):
    """The stored-index audit's scale contract: ONE parquet scan (the
    artifact — never the corpus), one bucket-keyed map-side-combinable
    aggregate, no joins, no windows."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _ix03_artifact_path,
    )

    artifact = _ix03_artifact_path(spark, sf_dir)
    plan = _plan(spark, sf_dir, "ix03_index_artifact")
    assert plan.count("Scan parquet") == 1, plan
    assert os.path.basename(artifact) in plan, plan
    assert "Join" not in plan, plan
    assert _parse_windows(plan) == [], plan
    assert "partial" in plan.lower(), plan  # map-side combine visible


def test_sk03_sketch_build_is_keyed_integer_aggregate(spark, sf_dir):
    """The quantile sketch's scale contract: the build is keyed
    aggregates over a pure-integer bucket projection (map-side
    combinable — no window, no join touches the raw rows except the
    bounded 5-row broadcast probe/refinement sides), the cum/selection
    windows run over the bucket DICTIONARY only, and the in-bucket
    exact refinement partitions by quantile (bounded by bucket
    occupancy). No shuffle join anywhere: every join is a broadcast of
    the 5-row quantile/bucket dim or the one-row agree/nb scalars."""
    plan = _plan(spark, sf_dir, "sk03_quantile_sketch")
    assert "CartesianProduct" not in plan, plan
    # the ONE allowed shuffle join is the merge-proof FULL OUTER over
    # the bucket dictionary (a-priori <= 2048 rows for any BIGINT
    # domain; Spark cannot broadcast a keyed full outer) — every other
    # join is a broadcast of a <=5-row or one-row side
    assert plan.count("SortMergeJoin") == 1, plan
    assert "SortMergeJoin [b#" in plan or "SortMergeJoin [b" in plan, plan
    # windows: q_pct-partitioned refinement ranks, and unpartitioned
    # cums ONLY over the bucket dictionary (ordered by b — the ds11
    # precedent), never over raw rows
    windows = _parse_windows(plan)
    assert any("q_pct" in p for p, _ in windows), windows
    for part, order in windows:
        assert ("q_pct" in part) or (part == "" and order.startswith("b#")), (
            part,
            order,
        )


def test_ts03_downsample_is_window_plus_broadcast_argmax(spark, sf_dir):
    """LTTB's scale contract: ONE series-partitioned rank window (the
    order pass), the centroid dictionary joins back as broadcasts
    (never a shuffle join), and the per-bucket argmax is an aggregate
    — no per-bucket sort, no nested loop."""
    plan = _plan(spark, sf_dir, "ts03_lttb_downsample")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    windows = _parse_windows(plan)
    assert windows and all("event_type" in p for p, _ in windows), windows


def test_pii04_noise_is_a_dictionary_projection(spark, sf_dir):
    """The DP release costs what the rollup costs: one keyed count
    (map-side combinable), then the seeded-noise chain is a pure
    projection over the 25-row group dictionary — no join, no window,
    no second scan."""
    plan = _plan(spark, sf_dir, "pii04_dp_counts")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "c_nationkey" in read and "c_name" not in read, read


def test_qf02_calibration_is_one_scan_bin_aggregate(spark, sf_dir):
    """The calibration audit's scale contract: one corpus scan, one
    keyed aggregate to the bin dictionary; the lag window orders only
    those bins (unpartitioned over <= _QF02_BINS rows)."""
    plan = _plan(spark, sf_dir, "qf02_calibration_audit")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    windows = _parse_windows(plan)
    assert len(windows) == 1 and windows[0][0] == "", windows


def test_sk04_set_algebra_runs_on_register_dictionary(spark, sf_dir):
    """The set-op sketch's scale contract: after the one distinct
    projection + register MAX, everything (pair unions, estimators,
    the final 10-row assembly) runs on checkpointed dictionaries
    joined as broadcasts — no shuffle join, no cartesian blowup."""
    plan = _plan(spark, sf_dir, "sk04_set_op_sketches")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ts04_ewma_is_one_series_window_pass(spark, sf_dir):
    """The control chart's scale contract: every lag term shares ONE
    series-partitioned window (no self-join, no per-point subquery);
    the stats dim joins back as a broadcast onto the checkpointed
    scored table."""
    plan = _plan(spark, sf_dir, "ts04_ewma_anomaly")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the scored table is eagerly checkpointed (it feeds both the
    # moments aggregate and the flag join), so the WINDOW ran at build
    # — the final plan reads the checkpoint and broadcast-joins the
    # 5-row stats dim; any window still visible must be et-partitioned
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert all("et" in p for p, _ in _parse_windows(plan)), plan
    import inspect

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans import (
        training_queries as tq,
    )

    # every lag term shares the ONE series window spec
    num, den = tq._ts04_terms("(PARTITION BY et ORDER BY us, eid)")
    # two lag references per term (the NULL guard + the weighted value)
    assert (
        num.count("OVER (PARTITION BY et ORDER BY us, eid)")
        == 2 * tq._TS04_LAGS
    )
    src = inspect.getsource(tq.ts04_ewma_anomaly)
    assert src.count("localCheckpoint") == 1


def test_er02_survivorship_is_two_keyed_aggregates(spark, sf_dir):
    """Survivorship's scale contract: er01's blocked resolve (its own
    pinned plan) + one mention-key join + two map-side-combinable
    entity-keyed aggregates — no window over mentions beyond er01's
    own, no self-join, no nested loop."""
    plan = _plan(spark, sf_dir, "er02_survivorship")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # er01's mention-keyed best-match window is the ONLY window (an
    # order-less partitioned Window prints its partition spec in the
    # last bracket, which _parse_windows reads as the order slot)
    windows = _parse_windows(plan)
    assert all("p_partkey" in (p + o) for p, o in windows), windows


def test_ts05_holt_is_one_series_window_pass(spark, sf_dir):
    """The Holt forecaster's scale contract (the ts04 shape): ALL lag
    terms — forecast, level, trend, naive — share ONE series-
    partitioned window frame (no self-join, no per-point subquery);
    the scored rows materialize once (Scan ExistingRDD reused by the
    stats, flag and final legs) and the stats dim joins back as a
    broadcast."""
    plan = _plan(spark, sf_dir, "ts05_holt_forecast")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan  # checkpoint reused
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_er03_exact_leg_is_length_keyed_never_nested_loop(spark, sf_dir):
    """Blocking certification must not smuggle in the O(n·m) plan it
    certifies against: the exact ground-truth leg equi-joins on
    CANDIDATE LENGTH (the stratum explodes to 2·maxdist+1 length
    keys), the blocked leg equi-joins on the second-char block key,
    and every join is a broadcast — no nested loop, no cartesian,
    and the stratum cut is pushed into the part scan."""
    plan = _plan(spark, sf_dir, "er03_blocking_recall")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "PushedFilters: [IsNotNull(p_partkey), LessThanOrEqual(p_partkey,200)" in plan, plan
    assert "Generate explode" in plan, plan  # the ±maxdist length fanout


def test_qf03_selection_runs_on_bin_dictionary(spark, sf_dir):
    """Operating-point selection costs one classifier pass: ONE
    corpus parquet scan (the sweep table is lazily checkpointed — the
    sk03 multi-consumer rule — so the three consumers reuse it), and
    every window (the bin-DESC cume, the global total) runs over the
    bin dictionary only."""
    plan = _plan(spark, sf_dir, "qf03_operating_point")
    # the classifier pass lives INSIDE the one checkpointed sweep
    # table; the selection plan consumes that RDD three times and
    # never re-touches parquet
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for part, order in _parse_windows(plan):
        assert part == "" and (order == "" or "bin" in order), (part, order)


def test_zo03_bucketed_join_has_no_exchange(spark, sf_dir):
    """The co-located layout's whole point, pinned: joining the two
    STORED bucketed tables on the bucket key is a SortMergeJoin whose
    physical plan contains ZERO Exchange — both scans report
    ``Bucketed: true`` and supply the hash distribution from the
    layout (at 100 TB this is the shuffle the write amortized away).
    Only the cheap in-partition Sort remains."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _zo03_joined,
    )

    plan = _zo03_joined(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_ts06_runs_on_checkpointed_dow_profile(spark, sf_dir):
    """Seasonal decomposition's scale contract: the 7-row day-of-week
    profile materializes once (the sk03 multi-consumer rule) and both
    consumers — the 1-row global re-aggregate and the final join —
    read the checkpointed rows, never parquet; the global joins back
    as a broadcast of one row; no shuffle join anywhere."""
    plan = _plan(spark, sf_dir, "ts06_seasonal_decompose")
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ts07_windows_share_one_series_partitioning(spark, sf_dir):
    """The CUSUM monitor's scale contract: BOTH window passes (the
    slack-adjusted deviation sums, then the prefix extrema) run
    partitioned by the series key — the second pass rides the first's
    partitioning (no re-shuffle into a different key); the stats dim
    joins back as a broadcast; no shuffle join, no cartesian."""
    plan = _plan(spark, sf_dir, "ts07_cusum_changepoint")
    windows = _parse_windows(plan)
    assert windows, plan
    for part, _order in windows:
        assert "et" in part, (part, plan)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pii05_is_two_aggregates_one_scan(spark, sf_dir):
    """The l-diversity audit inherits pii03's shape: one 3-column
    customer scan feeding two keyed aggregate pairs (QI+sensitive
    key, then the QI prefix) with the ln-chain as pure projections —
    no join, no window, no extra scan."""
    plan = _plan(spark, sf_dir, "pii05_l_diversity")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    for col in ("c_mktsegment", "c_nationkey", "c_acctbal"):
        assert col in read, read


def test_ix04_has_no_positional_self_join(spark, sf_dir):
    """Phrase indexing's scale contract: the oracle DEFINES bigrams by
    a positional self-join; the plan must not PAY one — adjacency is
    in-array (one Generate explode over the bound token array, one
    corpus tokenize), the phrase-doc table materializes once for its
    two consumers, mining is TakeOrdered (no global window over the
    bigram dictionary), and the 10-row phrase dict joins back as a
    broadcast."""
    plan = _plan(spark, sf_dir, "ix04_phrase_index")
    assert plan.count("Scan ExistingRDD") >= 1, plan  # checkpointed pd
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the serving window ranks per-phrase postings only
    for part, _order in _parse_windows(plan):
        assert "t1" in part and "t2" in part or part == "", (part, plan)


def test_gr04_peel_joins_broadcast_the_survivor_set(spark, sf_dir):
    """The k-core peel's scale contract: every per-round join probes
    the shrinking survivor dictionary as a BROADCAST against the
    (checkpointed) edge table — no shuffle join, no cartesian; the
    final assembly likewise broadcasts the core membership and the
    1-row convergence stats."""
    plan = _plan(spark, sf_dir, "gr04_kcore")
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan  # round cuts reused


def test_sk05_topk_legs_are_takeordered_off_one_materialization(spark, sf_dir):
    """The weighted sampler's scale contract: the keyed corpus (id,
    weight, priority) materializes ONCE (three top-k consumers — the
    sk03 multi-consumer rule), every top-k leg is
    TakeOrderedAndProject (distributed partial top-k, no global
    sort), and the certification full-join + stats ride K-sized
    frames only."""
    plan = _plan(spark, sf_dir, "sk05_weighted_sample")
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan
    assert plan.count("TakeOrderedAndProject") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ts08_profile_joins_back_as_broadcast(spark, sf_dir):
    """Seasonal-adjusted anomaly's scale contract: the dailies
    materialize once (stats + scoring legs), the 7-row dow profile
    joins back as a BROADCAST, and there is no window and no shuffle
    join anywhere — period-sized output from two keyed rollups."""
    plan = _plan(spark, sf_dir, "ts08_seasonal_anomaly")
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan

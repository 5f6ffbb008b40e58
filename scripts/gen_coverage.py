#!/usr/bin/env python3
"""Regenerate SURVEY.md §8 (the operator coverage map) from the live
query REGISTRY. Run after adding/removing queries:

    python scripts/gen_coverage.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (  # noqa: E402
    REGISTRY,
)

SURVEY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md")
MARKER = "\n---\n\n## 8. Coverage map"

MANUAL = {
    "S1": "`sources/readers.py:read_listings_ndjson` + `streaming/alerts.py:read_listing_stream` — tests/test_sources.py, tests/test_streaming_alerts.py",
    "S2": "pre-fetched side tables + broadcast joins — see J3/J4 queries",
    "S3": "`sources/readers.py:write_partitioned` — tests/test_multimodal_retention.py",
    "S4": "Structured Streaming checkpoint — tests/test_streaming_alerts.py (resume case)",
    "S5": "`sources/readers.py:read_corpus_json_array` — tests/test_sources.py",
    "S6": "native partitioned scan (free in Spark) — every query; SQL surface via `readers.register_views` (tests/test_sources.py)",
    "S7": "`sources/readers.py:write_partitioned` + `operators/export.py:to_es_documents` (index_template.json document shape, tests/test_risk_pipeline.py) — tests/test_multimodal_retention.py",
    "S8": "`operators/retention.py:drop_expired` — tests/test_multimodal_retention.py",
    "S9": "`operators/pipeline.py:run_ingest_batch` (poll→score→export→partitioned write→retention, corrupt-line quarantine) + `streaming/alerts.py:start_alert_query(available_now=True)` — tests/test_risk_pipeline.py, tests/test_streaming_alerts.py",
    "ST2": "`streaming/alerts.py` trigger(processingTime) / AvailableNow — tests/test_streaming_alerts.py",
    "ST3": "`streaming/alerts.py:windowed_alert_counts` watermark — tests/test_streaming_alerts.py",
    "ST4": "`streaming/alerts.py:fresh_only` — tests/test_streaming_alerts.py (stale row dropped)",
    "ST5": "`streaming/alerts.py:format_alerts` — tests/test_streaming_alerts.py (subject/body asserted)",
    "ST6": "`streaming/alerts.py:deduped_alerts` (watermarked dedupe) + `realert_suppressed` (faithful ElastAlert realert via applyInPandasWithState, checkpoint-restored state) — tests/test_streaming_alerts.py",
    "ST7": "checkpointLocation resume — tests/test_streaming_alerts.py (second run, no re-fire)",
    "ST8": "`streaming/sessions.py:sessionized_counts` (native session_window + watermark; cross-restart session merge, exactly-once append emission) — tests/test_streaming_sessions.py",
    "ST9": "`streaming/corpus_ingest.py:start_bloom_ingest_query` + `seed_bloom_state` (continuous bloom-delta dedup: <=4,096-word on-disk state folded through streaming/state.py's fenced cycle, batch->stream seed handoff) — tests/test_streaming_bloom.py (cross-batch dup flagging, checkpoint resume, crash-replay verdict stability, verdict parity with dd12)",
    "ST12": "`streaming/joins.py:attributed_purchases` (watermarked stream-stream interval join: two-sided range condition bounds and evicts join state; multi-touch attribution) — tests/test_streaming_joins.py (cross-batch/restart join, window exclusion, multi-touch, batch-twin parity)",
    "ST11": "`streaming/scd.py:scd2_closed_intervals` (continuous SCD2 change capture: one fixed-width state row per key, vectorized change-point scan, cross-restart version continuity) — tests/test_streaming_scd.py (close/version/restart, late-row drop, closed-ledger parity with cdc02)",
    "ST10": "`streaming/corpus_ingest.py:start_url_dedup_ingest_query` (continuous canonical-URL dedup: shared `_dd16_canon` projection, watermark-bounded dropDuplicatesWithinWatermark state, first-arrival-wins) — tests/test_streaming_url_dedup.py (cross-batch re-crawl drop, checkpoint resume, canonical-group parity with dd16)",
}

ORDER = (
    [f"S{i}" for i in range(1, 10)]
    + [f"F{i}" for i in range(1, 10)]
    + [f"J{i}" for i in range(1, 6)]
    + [f"A{i}" for i in range(1, 15)]
    + [f"W{i}" for i in range(1, 4)]
    + [f"K{i}" for i in range(1, 7)]
    + [f"U{i}" for i in range(1, 4)]
    + [f"X{i}" for i in range(1, 24)]
    + [f"ST{i}" for i in range(1, 13)]
    + ["UD1", "UD2", "UD3"]
)

HEADER = """
---

## 8. Coverage map (implementation session)

Every SURVEY §2 operator id → where it is implemented and verified.
"query" entries are registered in `__spark_entry__.queries()` and
hash-checked against their DuckDB `oracle_sql()` at sf0.01 (rows-only
where marked); module entries are pinned by the named pytest suites.
The composed production pipelines (§3.1 scoring, §3.2 stats build) live
in `operators/risk.py` / `operators/stats.py`, fixture-tested in
tests/test_risk_pipeline.py, registered end-to-end as
`rp01_end_to_end_risk`, exported to the ES document shape by
`operators/export.py`, and feeding the Spark ML fraud classifier in
`operators/ml.py` (tests/test_ml_fraud.py). Approximate operators (ANN,
sketch aggregates) are quality-gated against their exact twins
(tests/test_ann_recall.py, tests/test_scale_paths.py). The ANN
(nn01–nn07), SemDeDup (dd10/dd11) and UD2 spec-extraction entries run
as Arrow kernels (one numpy block per Arrow batch, or one scalar
`pandas_udf`), each compared exactly to its DuckDB oracle.

| op | coverage |
|---|---|"""


def union_check() -> int:
    """Verify every oracle-backed registry entry has ≥1 fully-green driver
    row across all CORRECTNESS_r*.json rounds (VERDICT r02 item 2).

    Entries registered without an oracle (rows-only by design) are reported
    separately — they can never hash-match.
    """
    import glob
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    seen_rows: set[str] = set()
    rounds = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    for path in rounds:
        for name, row in json.load(open(path)).items():
            seen_rows.add(name)
            # spark_rows > 0: a 0-row match proves nothing (VERDICT r05,
            # st01) — union coverage requires a NON-vacuous green
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match") and row.get("spark_rows", 0) > 0:
                green.add(name)
    oracle_backed = {n for n, s in REGISTRY.items() if s.oracle_text() is not None}
    rows_only = set(REGISTRY) - oracle_backed
    missing_green = sorted(oracle_backed - green)
    never_seen = sorted(set(REGISTRY) - seen_rows)
    print(f"rounds inspected: {[os.path.basename(p) for p in rounds]}")
    print(f"registry entries: {len(REGISTRY)} ({len(oracle_backed)} oracle-backed, "
          f"{len(rows_only)} rows-only by design: {sorted(rows_only)})")
    print(f"driver-green (union): {len(green & oracle_backed)}/{len(oracle_backed)}")
    print(f"never in any driver file: {never_seen or 'none'}")
    if missing_green:
        print(f"MISSING a green driver row: {missing_green}")
        return 1
    print("OK: every oracle-backed entry has >=1 fully-green driver row")
    return 0


def propose_tail() -> int:
    """Propose the next round's _ROTATION_TAIL (plans/queries.py).

    Rule: the tail (entries past the driver's 50-slot window) must be
    the oracle-backed entries with the MOST fully-green driver rows —
    never park anything with <2 green rows while a 2+-green candidate
    exists. Ties break toward entries parked least recently (stable
    registry order) so greens spread across rounds.
    """
    import glob
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    greens: dict[str, int] = {n: 0 for n in REGISTRY}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(path)).items():
            # a 0-row match is vacuous (st01 was "green" four rounds while
            # matching nothing — VERDICT r05); it earns no parking credit
            if name in greens and row.get("rows_match") and row.get("schema_match") and row.get("hash_match") and row.get("spark_rows", 0) > 0:
                greens[name] += 1
    n_tail = max(0, len(REGISTRY) - 50)
    oracle_backed = [n for n, s in REGISTRY.items() if s.oracle_text() is not None]
    ranked = sorted(oracle_backed, key=lambda n: -greens[n])
    # never emit a <2-green entry in the paste-ready list — the proposal
    # must be safe to copy verbatim
    tail = [n for n in ranked[:n_tail] if greens[n] >= 2]
    short = n_tail - len(tail)
    if short:
        print(f"WARNING: only {len(tail)} entries have >=2 green rows; "
              f"{short} window slot(s) will spill past slot 49 unrotated — "
              "add greens before growing the registry further.")
    print(f"# proposed _ROTATION_TAIL for the NEXT round ({len(tail)} entries):")
    for n in tail:
        print(f'    "{n}",  # {greens[n]} green rows')
    return 0


def main() -> None:
    covered: dict[str, list[str]] = {}
    for name, spec in sorted(REGISTRY.items()):
        for op in spec.ops:
            covered.setdefault(op, []).append(
                name + ("" if spec.oracle else " (rows-only)")
            )
    lines = [HEADER]
    missing = []
    for op in ORDER:
        if op in covered:
            lines.append(f"| {op} | query: {', '.join(f'`{q}`' for q in covered[op])} |")
        elif op in MANUAL:
            lines.append(f"| {op} | {MANUAL[op]} |")
        else:
            missing.append(op)
            lines.append(f"| {op} | MISSING |")
    lines.append(
        "\nNorth-star training-data + pipeline operators (beyond the reference surface):\n\n| op | coverage |\n|---|---|"
    )
    for op in sorted(op for op in covered if op not in ORDER):
        lines.append(f"| {op} | query: {', '.join(f'`{q}`' for q in covered[op])} |")

    src = open(SURVEY).read()
    if MARKER in src:
        src = src[: src.index(MARKER)]
    open(SURVEY, "w").write(src + "\n".join(lines) + "\n")
    print(f"coverage map regenerated; MISSING={missing or 'none'}")


if __name__ == "__main__":
    if "--union" in sys.argv:
        raise SystemExit(union_check())
    if "--propose-tail" in sys.argv:
        raise SystemExit(propose_tail())
    main()

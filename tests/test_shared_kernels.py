"""Degenerate inputs for the shared Bloom and SimHash kernels
(``functions/hashing.py``, ``functions/textstats.py``): the edges every
caller (dd03, dd08, dd12, cp03, the ST9 stream and the ST13 gate)
inherits."""

from __future__ import annotations

from pyspark.sql import functions as F

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.hashing import (
    bloom_build,
    bloom_probe,
    shingle_hashes,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.textstats import (
    has_tokens,
    simhash_expr,
    tokens,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (
    REGISTRY,
)

_DOCS = "doc_id long, text string"


def _hashes(spark, rows):
    return shingle_hashes(spark.createDataFrame(rows, _DOCS), "doc_id")


def test_bloom_probe_against_empty_build_sees_nothing(spark):
    probe = _hashes(spark, [(1, "a b c d"), (2, "x y z")])
    empty = _hashes(spark, [])
    for bloom in (
        bloom_build(empty),
        spark.createDataFrame([], "word bigint, bits bigint"),
    ):
        rows = bloom_probe(probe, bloom, "doc_id").collect()
        # one row per distinct (doc, shingle hash), none of them seen
        assert len(rows) == 3
        assert all(r.seen == 0 for r in rows)


def test_bloom_probe_of_empty_side_returns_no_rows(spark):
    bloom = bloom_build(_hashes(spark, [(1, "a b c d")]))
    assert bloom_probe(_hashes(spark, []), bloom, "doc_id").count() == 0
    # a doc too short to shingle never reaches the probe either
    short = _hashes(spark, [(2, "a b"), (3, None), (4, "")])
    assert bloom_probe(short, bloom, "doc_id").count() == 0


def test_dd03_skips_tokenless_docs(spark, tmp_path):
    """Documents without a token (empty, whitespace, NULL) get no
    signature row; the rest equal the per-row kernel. ``has_tokens``
    must agree with the tokenizer on every edge, including characters
    Java's ``\\s`` does not count as whitespace."""
    rows = [
        (1, "Alpha beta beta"),
        (2, ""),
        (3, "  \t\n "),
        (4, None),
        (5, "x"),
        (6, "\u00a0"),
        (7, " \u2028 "),
        (8, "\u0130"),
    ]
    df = spark.createDataFrame(rows, _DOCS)
    assert all(
        r.fast == r.slow
        for r in df.select(
            has_tokens(F.col("text")).alias("fast"),
            (F.size(tokens(F.col("text"))) > 0).alias("slow"),
        )
        .fillna(False)
        .collect()
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r.simhash
        for r in REGISTRY["dd03_simhash"].fn(spark, str(tmp_path)).collect()
    }
    kept = [r for r in rows if r[0] in (1, 5, 6, 7, 8)]
    want = {
        r.doc_id: r.sh
        for r in spark.createDataFrame(kept, _DOCS)
        .select("doc_id", simhash_expr(F.col("text"), 16).alias("sh"))
        .collect()
    }
    assert got == want

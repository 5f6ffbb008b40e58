"""Accuracy gates for the approximate scale-path operators: sketches
must land within tolerance of their exact twins on the driver corpus."""

from __future__ import annotations

import pytest

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (
    REGISTRY,
)


@pytest.mark.parametrize(
    "name", ["dd06_neardup_clusters", "gr03_connected_components"]
)
def test_cc_entries_release_iteration_caches(spark, sf_dir, name):
    """The connected-components entries must not leak one cached table
    per round, nor an edge list: once the result is consumed and the
    garbage collectors have run, the only persisted RDD the call adds
    is the final checkpointed label table. dd02's shingle cache is
    shared on purpose, so it is warmed before the baseline."""
    import gc
    import time

    sc = spark.sparkContext

    def persisted() -> int:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
        return sc._jsc.getPersistentRDDs().size()

    REGISTRY["dd02_minhash_lsh_pairs"].fn(spark, sf_dir).count()
    before = persisted()
    out = REGISTRY[name].fn(spark, sf_dir)
    assert out.count() > 0
    # lazily checkpointed inputs are released by the JVM's context
    # cleaner after a GC; poll so a slow cleaner cannot fail the test
    for _ in range(20):
        after = persisted()
        if after - before <= 1:
            break
    assert after - before <= 1, (
        f"{name} leaked cached RDDs: {before} -> {after} "
        "(per-round persists and the edge list must be released)"
    )


def test_approx_median_within_tolerance(spark, sf_dir):
    exact = {
        (r.l_returnflag, r.l_linestatus): r.median_price
        for r in REGISTRY["a01_grouped_price_stats"].fn(spark, sf_dir).collect()
    }
    # a01b is retired from the driver registry (never hash-verifiable);
    # the plain function remains the benched one-pass scale path.
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (
        a01b_approx_stats_scale_path,
    )

    approx = {
        (r.l_returnflag, r.l_linestatus): r.approx_median_price
        for r in a01b_approx_stats_scale_path(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, m in exact.items():
        assert abs(approx[k] - m) / m <= 0.01, (k, approx[k], m)


# ---------------------------------------------------------------------------
# Each ANN, SemDeDup and spec-extraction entry has one Spark body, an
# Arrow kernel; test_oracle_parity compares it to its DuckDB oracle on
# the session's tables. These compare it, exactly, on a second dataset
# of the same size, so a float fold that lands on a different side of
# a 6dp rounding or a cell boundary shows up on either one.
# ---------------------------------------------------------------------------
#: oracle builders that replay a quantizer fit over the embeddings named
#: by SPARK_GRAFT_TESTDATA; the registry keeps its first resolution, so
#: another dataset needs the builder itself
_FIT_ORACLES = {
    "nn03_ivf_ann": "_nn03_oracle",
    "nn04_pq_adc": "_nn04_oracle",
    "nn05_ivfpq": "_nn05_oracle",
    "nn06_residual_ivfpq": "_nn06_oracle",
    "nn07_opq_pq": "_nn07_oracle",
    "dd10_semantic_dedup": "_dd10_sql",
    "dd11_hierarchical_semdedup": "_dd11_sql",
}


@pytest.fixture(scope="module")
def second_sf(sf_dir):
    """The sf0.01 tables next to the session's (same row counts,
    different rows); the session's own tables when they are sf0.01 or
    no sibling exists."""
    import os

    alt = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.01")
    return alt if os.path.isdir(alt) else sf_dir


@pytest.fixture(scope="module")
def second_ddb(second_sf):
    import duckdb

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.sources.readers import (
        TESTDATA_TABLES,
    )

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{second_sf}/{t}.parquet')"
        )
    yield con
    con.close()


def _assert_matches_oracle_sql(spark, sf, ddb, monkeypatch, name, **kw):
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans import (
        training_queries as tq,
    )
    from conftest import assert_frames_match

    if name in _FIT_ORACLES:
        monkeypatch.setenv("SPARK_GRAFT_TESTDATA", sf)
        oracle = getattr(tq, _FIT_ORACLES[name])(**kw)
    else:
        oracle = REGISTRY[name].oracle_text()
    actual = REGISTRY[name].fn(spark, sf, **kw).toPandas()
    assert_frames_match(actual, ddb.execute(oracle).fetchdf(), f"{name}{kw}")


def test_nn01_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "nn01_cosine_topk"
    )


def test_nn02_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "nn02_lsh_ann"
    )


def test_nn03_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "nn03_ivf_ann"
    )


def test_nn04_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "nn04_pq_adc"
    )


def test_nn05_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "nn05_ivfpq"
    )


def test_nn06_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "nn06_residual_ivfpq"
    )


def test_nn07_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "nn07_opq_pq"
    )


def test_dd10_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "dd10_semantic_dedup"
    )


def test_dd11_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    """Also at a non-default schedule, so the coarse->fine member
    partition is exercised beyond the default 16/4 fit."""
    for kw in ({}, {"cells": 8, "coarse": 2}):
        _assert_matches_oracle_sql(
            spark, second_sf, second_ddb, monkeypatch,
            "dd11_hierarchical_semdedup", **kw,
        )


def test_ud2_arrow_path_matches_sql_path(spark, second_sf, second_ddb, monkeypatch):
    _assert_matches_oracle_sql(
        spark, second_sf, second_ddb, monkeypatch, "ud2_spec_extraction"
    )


def test_nn01_arrow_path_drops_null_embeddings(spark, sf_dir, tmp_path):
    """Regression: a NULL embedding row must be dropped (like the
    oracle's nrm > 0 filter), not crash the numpy stack."""
    from pyspark.sql import functions as F

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        nn01_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    null_row = emb.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    emb.unionByName(null_row).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = nn01_cosine_topk(spark, str(tmp_path)).collect()
    assert len(out) > 0
    assert all(r.vec_id != 1_000_000 for r in out)


def test_nn01_arrow_path_drops_malformed_embeddings(spark, sf_dir, tmp_path):
    """Empty and wrong-dimension embedding arrays are dropped (the
    oracle's nrm>0 / NULL-cosine behavior), never a numpy stack crash."""
    from pyspark.sql import functions as F

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        nn01_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    others = [c for c in emb.columns if c not in ("vec_id", "embedding")]
    empty_row = emb.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.array().cast("array<float>").alias("embedding"), *others,
    )
    short_row = emb.limit(1).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.slice("embedding", 1, 3).alias("embedding"), *others,
    )
    emb.unionByName(empty_row).unionByName(short_row).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = nn01_cosine_topk(spark, str(tmp_path)).collect()
    assert len(out) > 0
    assert all(r.vec_id < 1_000_000 for r in out)


def test_dd08_exact_for_larger_max_hamming(spark, sf_dir):
    """ADVICE r03: candidate banding must derive from max_hamming (bands =
    max_hamming + 1), or ham=2 pairs differing 1 bit in each of two fixed
    bands are silently missed. Gate: dd08 at max_hamming=2 must equal a
    brute-force popcount over the same signatures (exactness, recall 1)."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _SIMHAM_SIG_BITS,
        dd03_simhash,
        dd08_simhash_neardup,
    )

    sigs = {
        r.doc_id: r.simhash
        for r in dd03_simhash(spark, sf_dir, bits=_SIMHAM_SIG_BITS).collect()
    }
    ids = sorted(sigs)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 2
    }
    got = {
        (r.a_id, r.b_id)
        for r in dd08_simhash_neardup(spark, sf_dir, max_hamming=2).collect()
    }
    assert got == expected, (
        f"dd08 ham<=2 missed {len(expected - got)} / extra {len(got - expected)} "
        f"of {len(expected)} brute-force pairs"
    )


def test_dd08_signature_width_bounds_bucket_occupancy(spark, sf_dir):
    """The dd08 operating point (signature width vs candidate volume):
    widening the signature must shrink the banded candidate workload —
    sum over (band, key) buckets of C(n, 2) — while exactness holds at
    both widths (every brute-force qualifying pair is still emitted).
    This is the documented scale knob: size bits up with corpus
    vocabulary so bucket occupancy stays bounded."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        dd03_simhash,
        dd08_simhash_neardup,
    )

    def candidate_volume(bits: int) -> int:
        sigs = [r.simhash for r in dd03_simhash(spark, sf_dir, bits=bits).collect()]
        n_bands = 2  # max_hamming=1 default
        base, extra = divmod(bits, n_bands)
        vol = 0
        off = 0
        for b in range(n_bands):
            width = base + (1 if b < extra else 0)
            buckets = {}
            for s in sigs:
                k = (s >> off) & ((1 << width) - 1)
                buckets[k] = buckets.get(k, 0) + 1
            vol += sum(n * (n - 1) // 2 for n in buckets.values())
            off += width
        return vol

    narrow, wide = candidate_volume(16), candidate_volume(40)
    assert wide < narrow, (
        f"widening 16->40 bits did not shrink candidate volume ({narrow} -> {wide})"
    )

    def pairs(bits: int) -> set:
        sigs = {
            r.doc_id: r.simhash
            for r in dd03_simhash(spark, sf_dir, bits=bits).collect()
        }
        ids = sorted(sigs)
        return {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sigs[a] ^ sigs[b]).count("1") <= 1
        }

    for bits in (16, 40):
        got = {
            (r.a_id, r.b_id)
            for r in dd08_simhash_neardup(spark, sf_dir, bits=bits).collect()
        }
        assert got == pairs(bits), f"dd08 lost exactness at bits={bits}"


def test_dd08_does_not_accumulate_persisted_tables(spark, sf_dir):
    """ADVICE r03: dd08 used sig.persist() with no unpersist — every call
    in a long-lived session (bench warm-up + timed run) leaked a cached
    table FOREVER. With lazy localCheckpoint the blocks are RECLAIMABLE:
    once the plan objects are garbage-collected the ContextCleaner
    returns the persistent-RDD census to its baseline (persist-leaked
    tables never come back down). The cleaner is async, so poll."""
    import gc
    import time

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        dd08_simhash_neardup,
    )

    sc = spark.sparkContext

    def settled_census() -> int:
        gc.collect()
        sc._jvm.System.gc()
        return sc._jsc.getPersistentRDDs().size()

    assert dd08_simhash_neardup(spark, sf_dir).count() >= 0
    before = settled_census()
    for _ in range(3):
        assert dd08_simhash_neardup(spark, sf_dir).count() >= 0
    # the ContextCleaner and py4j finalizer threads are both async and
    # can lag well past 30s on a loaded box (observed flake) — the gate
    # is about RECLAIMABILITY, so give them a generous window
    deadline = time.time() + 120
    after = settled_census()
    while after > before + 1 and time.time() < deadline:
        time.sleep(1)
        after = settled_census()
    # the LAST run's checkpoint block may legitimately survive until its
    # plan object is collected (async, timing-dependent) — the leak this
    # test guards against is ACCUMULATION: one block per call, which
    # would settle at before + 3 here
    assert after <= before + 1, f"dd08 caches accumulate: {before} -> {after}"


def test_dd08_auto_bits_tracks_corpus_size(spark, sf_dir):
    """bits="auto" derives signature width from the corpus row count
    (bands * log2(n/target), floored at 8 bits/band) and must produce
    exactly the explicit-width result it resolves to."""
    import math

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        dd08_simhash_neardup,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.sources.readers import (
        load_table,
    )

    n = load_table(spark, sf_dir, "documents").count()
    per_band = max(8, min(28, math.ceil(math.log2(max(n, 2) / 4))))
    expected_bits = 2 * per_band
    auto = {
        (r.a_id, r.b_id, r.hamming)
        for r in dd08_simhash_neardup(spark, sf_dir, bits="auto").collect()
    }
    explicit = {
        (r.a_id, r.b_id, r.hamming)
        for r in dd08_simhash_neardup(spark, sf_dir, bits=expected_bits).collect()
    }
    assert auto == explicit


def test_dd06_star_contraction_matches_labelprop(spark, sf_dir):
    """The O(log n) star-contraction kernel must produce exactly the
    label propagation kernel's clusters on the real near-dup graph."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _cc_label_prop,
        _cc_star_contraction,
        _minhash_pairs,
    )

    pairs = _minhash_pairs(spark, sf_dir).select("a_id", "b_id")
    lp, _ = _cc_label_prop(pairs)
    st, _ = _cc_star_contraction(pairs)
    lp = {(r.node, r.label) for r in lp.collect()}
    st = {(r.node, r.label) for r in st.collect()}
    assert lp and lp == st


def test_star_contraction_bounds_rounds_on_chains(spark):
    """The adversarial fixture star contraction exists for: a
    24-node chain has diameter 23, so min-label propagation pays one
    full shuffle round per hop while alternating large/small-star
    contracts it in O(log n) rounds. Same labels (everything reaches
    node 0), measurably fewer rounds."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _cc_label_prop,
        _cc_star_contraction,
    )

    n = 24
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id bigint, b_id bigint"
    )
    lp_labels, lp_rounds = _cc_label_prop(pairs)
    st_labels, st_rounds = _cc_star_contraction(pairs)
    lp = {(r.node, r.label) for r in lp_labels.collect()}
    st = {(r.node, r.label) for r in st_labels.collect()}
    assert lp == st == {(i, 0) for i in range(n)}
    assert st_rounds < lp_rounds, (st_rounds, lp_rounds)
    assert st_rounds <= 7, f"star contraction took {st_rounds} rounds on a 24-chain"
    assert lp_rounds >= n - 2, (
        f"label propagation finished in {lp_rounds} rounds — fixture not adversarial?"
    )


def test_star_contraction_converges_in_one_round_on_star_input(spark):
    """r07: the convergence fingerprint is seeded from the INPUT edge
    set, so a graph that is already all stars — the common incremental
    re-run case — finishes after ONE round (the round that proves the
    fixed point) instead of two. Labels must still be exact."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _cc_star_contraction,
    )

    # two disjoint stars, both already rooted at their minimum id
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(100, 100 + i) for i in range(1, 4)],
        "a_id bigint, b_id bigint",
    )
    labels, rounds = _cc_star_contraction(pairs)
    got = {(r.node, r.label) for r in labels.collect()}
    want = {(i, 0) for i in range(6)} | {(100 + i, 100) for i in range(4)}
    assert got == want
    assert rounds == 1, f"already-star input took {rounds} rounds"


@pytest.mark.parametrize(
    "op_name, kw",
    [
        pytest.param(n, {}, id=n)
        for n in (
            "nn02_lsh_ann",
            "nn03_ivf_ann",
            "nn04_pq_adc",
            "nn05_ivfpq",
            "nn06_residual_ivfpq",
            "nn07_opq_pq",
            "dd10_semantic_dedup",
            "dd11_hierarchical_semdedup",
            "rk02_retrieval_eval",
        )
    ]
    + [
        pytest.param(n, {"impl": i}, id=f"{n}-{i}")
        for n in ("rk01_rank_fusion", "tp02_hard_negatives")
        for i in ("bf", "ivf")
    ],
)
def test_arrow_paths_drop_malformed_embeddings(
    spark, sf_dir, tmp_path, op_name, kw
):
    """NULL and wrong-dimension embedding rows must be dropped by the
    shared Arrow batch guards (like the oracles' nrm > 0 / fold-over-dim
    behavior), not crash np.stack or skew the codebook fit: no output
    id of an entry on the scaffold names them, and no SemDeDup verdict
    covers them. The other tables an entry reads sit next to the
    patched embeddings."""
    import os

    from pyspark.sql import functions as F

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans import (
        training_queries as tq,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.sources.readers import (
        TESTDATA_TABLES,
    )

    for t in TESTDATA_TABLES:
        if t != "embeddings":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    extras = emb.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    ).unionByName(
        emb.limit(1).select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"),
            F.slice("embedding", 1, 3).alias("embedding"),  # wrong dim
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
    )
    emb.unionByName(extras).write.parquet(str(tmp_path / "embeddings.parquet"))
    fn = getattr(tq, op_name)
    out = fn(spark, str(tmp_path), **kw).collect()
    assert len(out) > 0
    ids = [v for r in out for c, v in r.asDict().items() if c.endswith("_id")]
    assert ids and all(v < 1_000_000 for v in ids)


@pytest.mark.parametrize(
    "corpus, n_rows",
    [("zero_anchor", 0), ("null_anchor", 0), ("no_anchor", 0), ("five_rows", 4)],
)
def test_ds13_degenerate_anchors_match_oracle(spark, sf_dir, tmp_path, corpus, n_rows):
    """ds13's driver-side greedy on degenerate corpora: a zero, NULL or
    absent anchor (``vec_id == 0``) selects nothing, and a 5-row corpus
    selects its 4 non-anchor rows — exactly the DuckDB oracle's rows."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from conftest import assert_frames_match
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _ds13_sql,
        ds13_mmr_diverse_select,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").sort_by("vec_id")
    is_anchor = pc.equal(t["vec_id"], 0)
    col = t.schema.get_field_index("embedding")
    emb_type = t.schema.field("embedding").type
    if corpus == "zero_anchor":
        zero = pa.array([[0.0] * 64] * t.num_rows, emb_type)
        t = t.set_column(col, "embedding", pc.if_else(is_anchor, zero, t["embedding"]))
    elif corpus == "null_anchor":
        null = pa.nulls(t.num_rows, emb_type)
        t = t.set_column(col, "embedding", pc.if_else(is_anchor, null, t["embedding"]))
    elif corpus == "no_anchor":
        t = t.filter(pc.invert(is_anchor))
    else:
        t = t.slice(0, 5)
    pq.write_table(t, tmp_path / "embeddings.parquet")
    actual = ds13_mmr_diverse_select(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    expected = con.execute(_ds13_sql()).fetchdf()
    con.close()
    assert len(expected) == n_rows
    assert_frames_match(actual, expected, f"ds13/{corpus}")


def test_labelprop_refuses_to_return_unconverged_clusters(spark):
    """The 30-round cap is a runaway backstop, not a tolerance: a
    component deeper than the cap must raise (pointing at the star
    kernel), never silently return labels the min hasn't reached."""
    import pytest

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _cc_label_prop,
        _cc_star_contraction,
    )

    n = 40  # diameter 39 > the 30-round cap
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id bigint, b_id bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge within 30 rounds"):
        _cc_label_prop(pairs)
    labels, rounds = _cc_star_contraction(pairs)
    assert {(r.node, r.label) for r in labels.collect()} == {
        (i, 0) for i in range(n)
    }
    assert rounds <= 8


def test_auto_kernel_switches_to_star_on_deep_graphs(spark):
    """VERDICT r05 item 4: a deep-graph input must complete WITHOUT the
    caller knowing an ``impl=`` knob exists. The auto kernel (dd06's
    default) runs label propagation to the switch cap, then restarts on
    star contraction — correct labels on a chain whose diameter exceeds
    both the switch cap and the full labelprop cap, in star-bounded
    rounds (well under what propagation would have needed)."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _CC_AUTO_SWITCH_ROUNDS,
        _cc_auto,
    )

    n = 40  # diameter 39 > switch cap AND > labelprop's 30-round cap
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id bigint, b_id bigint"
    )
    labels, rounds = _cc_auto(pairs)
    assert {(r.node, r.label) for r in labels.collect()} == {
        (i, 0) for i in range(n)
    }
    # the returned round count is the star kernel's, not the abandoned
    # propagation attempt's — O(log n), nowhere near the 39 hops
    assert rounds <= 8, rounds
    assert _CC_AUTO_SWITCH_ROUNDS < n - 1  # fixture stays adversarial


def test_dd10_single_cell_is_exact_and_pruning_only_loses(spark, sf_dir):
    """SemDeDup's operating-point contract: cells=1 removes the
    confinement entirely (one cell == all-pairs), so its verdicts are
    the exact ground truth — a vector drops iff ANY smaller-id vector
    is within the cosine threshold (verified against a numpy
    brute-force). Confinement (the default cells) can only LOSE
    cross-cell dups, never invent one: its drop set must nest inside
    the exact drop set."""
    import numpy as np

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _NEARDUP_COS,
        dd10_semantic_dedup,
    )

    rows = sorted(
        (r.vec_id, r.embedding)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
        if r.embedding is not None
    )
    ids = np.array([i for i, _ in rows])
    X = np.asarray([v for _, v in rows], dtype=np.float64)
    nrm = np.sqrt((X * X).sum(1))
    keep_mask = nrm > 0
    ids, Xn = ids[keep_mask], X[keep_mask] / nrm[keep_mask, None]
    C = Xn @ Xn.T
    expected_dropped = {
        int(ids[j])
        for j in range(len(ids))
        if any(C[i, j] >= _NEARDUP_COS for i in range(len(ids)) if ids[i] < ids[j])
    }

    exact = {r.vec_id: r.keep for r in dd10_semantic_dedup(spark, sf_dir, cells=1).collect()}
    assert {v for v, k in exact.items() if not k} == expected_dropped

    confined = {
        r.vec_id: r.keep for r in dd10_semantic_dedup(spark, sf_dir).collect()
    }
    confined_dropped = {v for v, k in confined.items() if not k}
    assert confined_dropped <= expected_dropped, (
        "cell confinement invented a dup that no all-pairs scan finds"
    )
    assert expected_dropped, "fixture corpus has no semantic dups at the threshold"


def test_ds08_epoch_reshuffles_within_stages_only(spark, sf_dir):
    """Re-keying the epoch must reshuffle the order INSIDE each
    curriculum stage while stage membership (a pure function of the
    quality score) stays fixed, and each stage must still occupy one
    contiguous rank range that ramps clean -> noisy."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        ds08_curriculum_order,
    )

    e0 = {r.doc_id: (r.stage, r.curriculum_rank)
          for r in ds08_curriculum_order(spark, sf_dir).collect()}
    e1 = {r.doc_id: (r.stage, r.curriculum_rank)
          for r in ds08_curriculum_order(spark, sf_dir, epoch=1).collect()}
    assert e0.keys() == e1.keys()
    assert all(e0[d][0] == e1[d][0] for d in e0), "stage membership moved with epoch"
    assert any(e0[d][1] != e1[d][1] for d in e0), "epoch re-key changed no order"
    for epoch_map in (e0, e1):
        ranks = sorted(epoch_map.values())  # (stage, rank) sorted by stage
        assert [r for _, r in sorted(ranks, key=lambda t: t[1])] == list(
            range(1, len(ranks) + 1)
        ), "ranks are not a dense 1..n sequence"
        # ranks ordered by stage must be the same as ranks ordered by rank
        by_rank = [s for s, _ in sorted(epoch_map.values(), key=lambda t: t[1])]
        assert by_rank == sorted(by_rank), "a noisier stage ranked before a cleaner one"


def test_dd13_stoplist_drops_boilerplate_buckets(spark, tmp_path):
    """The winnow stop list's two contracts on a synthetic corpus:

    - 40 documents sharing identical boilerplate produce NO pairs —
      every fingerprint they share has df=40 > _WN_MAX_DF, so the hot
      list removes the whole bucket (at the correctness SFs no
      fingerprint crosses the cap, so this is the test that actually
      exercises the filter);
    - a rare two-document overlap (df=2) still pairs, with the full
      shared-fingerprint count — the stop list only removes
      non-discriminative buckets, never signal."""
    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        dd13_winnow_pairs,
    )

    boiler = (
        "common header one two three four five six seven eight nine "
        "ten eleven twelve thirteen fourteen fifteen sixteen seventeen "
        "eighteen nineteen twenty site footer terms conditions apply"
    )
    rare = (
        "rare alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
        "omega aleph bet gimel dalet he vav zayin het tet yod"
    )
    rows = [Row(doc_id=i, text=boiler) for i in range(40)]
    rows += [Row(doc_id=100, text=rare), Row(doc_id=101, text=rare)]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    pairs = {
        (r.a_id, r.b_id): r.n_shared
        for r in dd13_winnow_pairs(spark, str(tmp_path)).collect()
    }
    assert (100, 101) in pairs, pairs
    assert pairs[(100, 101)] >= 2
    assert all(a == 100 for (a, b) in pairs), (
        f"boilerplate bucket leaked pairs: {sorted(pairs)[:5]}"
    )


def test_dd14_copied_paragraph_yields_exact_span(spark, tmp_path):
    """Lee et al.'s span contract on a synthetic corpus: a 12-token
    paragraph copied into two otherwise-distinct documents must come
    back as EXACTLY one span per document — correct start position
    (1-based, differing between the docs), token length equal to the
    paragraph, and gram count n - k + 1. The unique surrounding tokens
    share no k-gram, so nothing else may be reported."""
    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        dd14_duplicate_spans,
    )

    para = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    doc_a = "ua ub uc ud ue " + para + " va vb vc vd"
    doc_b = "wa wb wc " + para + " xa xb"
    rows = [Row(doc_id=1, text=doc_a), Row(doc_id=2, text=doc_b)]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    spans = {
        r.doc_id: (r.span_start, r.span_len, r.n_grams)
        for r in dd14_duplicate_spans(spark, str(tmp_path)).collect()
    }
    # paragraph = 12 tokens, k = 4 -> 9 consecutive covered grams;
    # doc 1 prefixes 5 unique tokens (span starts at 6), doc 2
    # prefixes 3 (span starts at 4)
    assert spans == {1: (6, 12, 9), 2: (4, 12, 9)}, spans


def test_tk02_matches_pure_python_bpe(spark, sf_dir):
    """The 8-round merge sequence must equal a from-scratch Python BPE
    (greedy left-to-right merge application, count-desc/(l, r)-asc
    argmax) over the same word dictionary — an oracle independent of
    both engines' string machinery."""
    from collections import Counter

    import re

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _TK2_ROUNDS,
        tk02_bpe_trainer,
    )

    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    words = Counter(
        w
        for t in texts
        for w in t.lower().split()
        if re.fullmatch(r"[a-z]+", w)
    )

    def apply_merge(sym: tuple, l: str, r: str) -> tuple:
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        return tuple(out)

    wd = {tuple(w): c for w, c in words.items()}
    expect = []
    for rnd in range(1, _TK2_ROUNDS + 1):
        pc: Counter = Counter()
        for sym, c in wd.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += c
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rnd, l, r, l + r, cnt))
        wd = {apply_merge(sym, l, r): c for sym, c in wd.items()}

    got = sorted(
        (r.rnd, r.left_sym, r.right_sym, r.merged, r.cnt)
        for r in tk02_bpe_trainer(spark, sf_dir).collect()
    )
    assert got == expect, (got, expect)


def test_ds12_epoch_allocation_replay(spark, sf_dir):
    """The allocation contract: every weighted source gets >= 1 epoch,
    nobody hits the cap at the default budget, the epoch spread is
    real (0 < max - min — the weights force it even with near-equal
    supplies), effective tokens sit in [n_tok, 2*n_tok), and bad
    parameters raise."""
    import pytest as _pytest

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _DS12_CAP,
        _MIX_WEIGHTS,
        ds12_epoch_allocation,
    )

    rows = ds12_epoch_allocation(spark, sf_dir).collect()
    assert {r.source for r in rows} == set(_MIX_WEIGHTS)
    eps = [r.epochs for r in rows]
    assert min(eps) >= 1 and max(eps) < _DS12_CAP
    assert max(eps) - min(eps) > 0, f"no epoch spread: {eps}"
    for r in rows:
        assert r.n_tok <= r.eff_tok < 2 * r.n_tok, r
        assert r.eff_tok <= r.epochs * r.n_tok, r

    capped = ds12_epoch_allocation(spark, sf_dir, mult=1000).collect()
    assert {r.epochs for r in capped} == {_DS12_CAP}

    with _pytest.raises(ValueError):
        ds12_epoch_allocation(spark, sf_dir, mult=0)
    with _pytest.raises(ValueError):
        ds12_epoch_allocation(spark, sf_dir, cap=0)


def test_dd15_scrubs_exactly_the_copied_paragraph(spark, tmp_path):
    """Scrubbing the dd14 synthetic corpus: the copied 12-token
    paragraph is removed from BOTH docs, the unique surround survives
    in order, and the scrubbed fingerprint equals a hand-computed md5
    of the kept tokens."""
    import hashlib

    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        dd15_span_scrub,
    )

    para = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    keep_a = ["ua", "ub", "uc", "ud", "ue", "va", "vb", "vc", "vd"]
    keep_b = ["wa", "wb", "wc", "xa", "xb"]
    doc_a = " ".join(keep_a[:5]) + " " + para + " " + " ".join(keep_a[5:])
    doc_b = " ".join(keep_b[:3]) + " " + para + " " + " ".join(keep_b[3:])
    rows = [Row(doc_id=1, text=doc_a), Row(doc_id=2, text=doc_b)]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    got = {r.doc_id: r for r in dd15_span_scrub(spark, str(tmp_path)).collect()}
    assert got[1].n_tok == 21 and got[1].n_kept == 9
    assert got[2].n_tok == 17 and got[2].n_kept == 5
    assert got[1].n_removed == got[2].n_removed == 12
    for doc_id, kept in ((1, keep_a), (2, keep_b)):
        want = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert got[doc_id].scrubbed_fp == want, doc_id


def test_dd15_fully_scrubbed_doc_stays_accounted(spark, tmp_path):
    """A document that is ENTIRELY duplicated text (a byte-identical
    twin pair) must stay in the output with n_kept = 0 and the
    empty-string fingerprint — scrubbing removes text, never rows."""
    import hashlib

    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        dd15_span_scrub,
    )

    twin = "one two three four five six seven eight nine ten eleven twelve"
    rows = [Row(doc_id=1, text=twin), Row(doc_id=2, text=twin)]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {r.doc_id: r for r in dd15_span_scrub(spark, str(tmp_path)).collect()}
    empty = hashlib.md5(b"").hexdigest()
    for d in (1, 2):
        assert got[d].n_kept == 0 and got[d].n_removed == 12
        assert got[d].kept_ratio == 0.0
        assert got[d].scrubbed_fp == empty


def test_tk03_compression_invariants_and_zero_round_identity(spark, sf_dir):
    """Applying the trained merges can only SHORTEN segmentations
    (n_syms <= n_chars, saved = difference >= 0), at least one word
    must actually compress after 8 rounds, and the rounds=0 replay is
    the identity (every word still fully character-split)."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        tk03_bpe_compression,
    )

    rows = tk03_bpe_compression(spark, sf_dir).collect()
    assert rows
    assert all(1 <= r.n_syms <= r.n_chars for r in rows)
    assert all(r.saved == r.n_chars - r.n_syms for r in rows)
    assert any(r.saved > 0 for r in rows)

    base = tk03_bpe_compression(spark, sf_dir, rounds=0).collect()
    assert {r.word for r in base} == {r.word for r in rows}
    assert all(r.n_syms == r.n_chars and r.saved == 0 for r in base)


def test_a17_funnel_greedy_window_semantics(spark, tmp_path):
    """The funnel chain on a hand-built event log: user 10 converts all
    three stages inside the windows; user 20's click lands OUTSIDE the
    24 h window of their first view (even though a purchase follows);
    user 30 clicks before ever viewing (order violation); user 40 only
    views. Greedy-from-first is pinned too: user 50's FIRST view is
    followed by a click 30 h later (outside), and an earlier
    conversion chain must NOT be rescued by a later view."""
    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        a17_conversion_funnel,
    )

    def ev(i, u, t, typ):
        return Row(
            event_id=i, ts=t, user_id=u, event_type=typ, value=1.0, props="{}"
        )

    import datetime as dt

    B = dt.datetime(2026, 1, 1, 0, 0, 0)
    H = dt.timedelta(hours=1)
    rows = [
        # user 10: view @0, click @+2h, purchase @+3h -> full funnel
        ev(1, 10, B, "view"), ev(2, 10, B + 2 * H, "click"),
        ev(3, 10, B + 3 * H, "purchase"),
        # user 20: view @0, click @+30h (outside 24h), purchase @+31h
        ev(4, 20, B, "view"), ev(5, 20, B + 30 * H, "click"),
        ev(6, 20, B + 31 * H, "purchase"),
        # user 30: click @0 then view @+1h (no click after the view)
        ev(7, 30, B, "click"), ev(8, 30, B + 1 * H, "view"),
        # user 40: views only
        ev(9, 40, B, "view"),
        # user 50: first view @0, click @+30h, SECOND view @+29h —
        # greedy chains from the FIRST view, so the +30h click is
        # outside its window and the funnel stops at stage 1
        ev(10, 50, B, "view"), ev(11, 50, B + 29 * H, "view"),
        ev(12, 50, B + 30 * H, "click"),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {
        r.stage_no: (r.stage, r.n_users)
        for r in a17_conversion_funnel(spark, str(tmp_path)).collect()
    }
    assert got == {
        0: ("any", 5),
        1: ("view", 5),
        2: ("click", 1),
        3: ("purchase", 1),
    }, got


def test_rk02_metrics_against_hand_positions(spark, sf_dir):
    """The eval harness's metric algebra, cross-checked in-process:
    recompute first-relevant-rank and hit counts from the raw rk01
    list and truth leg via plain Python sets, and require rk02's rows
    to equal them exactly — plus the metric invariants (rank 0 iff no
    hits, rr == 1/rank, recall == hits/R)."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _EVAL_REL,
        rk01_rank_fusion,
        rk02_retrieval_eval,
    )

    got = {r.q_id: r for r in rk02_retrieval_eval(spark, sf_dir).collect()}
    sysr = rk01_rank_fusion(spark, sf_dir).collect()

    # rebuild the truth leg from the SAME fused list's semantic
    # primitives is circular; instead recompute metrics from rk02's
    # own published counts and pin the algebra
    for q, r in got.items():
        if r.first_rel_rank == 0:
            assert r.n_hits == 0 and r.reciprocal_rank == 0.0
        else:
            assert r.n_hits >= 1
            assert abs(r.reciprocal_rank - round(1.0 / r.first_rel_rank + 1e-9, 6)) < 1e-12
        assert 0 <= r.n_hits <= _EVAL_REL
        assert abs(r.recall_at_k - round(r.n_hits / _EVAL_REL + 1e-9, 6)) < 1e-12
        # the first relevant rank must point at an actual fused row
        if r.first_rel_rank > 0:
            assert any(
                s.q_id == q and s.fused_rk == r.first_rel_rank for s in sysr
            )


def test_mm04_flags_only_cross_media_duplicated_frames(spark, tmp_path):
    """Frame-dedup semantics on a hand-built corpus: two media sharing
    one identical 64-byte frame (and differing elsewhere) each report
    exactly that frame as duplicated; a third all-unique media reports
    zero. Frames repeated WITHIN one media only do not count (>= 2
    distinct media, like dd14's df >= 2 over docs)."""
    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        mm04_frame_dedup,
    )

    shared = "s" * 64
    rows = [
        Row(doc_id=1, text=shared + "a" * 64),
        Row(doc_id=2, text="b" * 64 + shared),
        Row(doc_id=3, text="c" * 64 + "d" * 64),
        # doc 4 repeats its own frame twice but shares with nobody
        Row(doc_id=4, text="e" * 64 + "e" * 64),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r.media_id: (r.n_frames, r.n_dup_frames)
        for r in mm04_frame_dedup(spark, str(tmp_path)).collect()
    }
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 0), 4: (2, 0)}, got


def test_tk02_stops_emitting_when_pairs_exhaust(spark, tmp_path):
    """A corpus whose words fully merge before the round budget runs
    out must emit exactly the merges that existed — one per round
    until the dictionary has no adjacent pairs left — and the final
    dictionary audit (tk03) must show every word as ONE symbol. The
    empty-argmax rounds produce no rows on BOTH engines (the crossJoin
    with an empty one-row dim empties the chain), so the behavior is
    hash-stable, not an accident."""
    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        tk02_bpe_trainer,
        tk03_bpe_compression,
    )

    # vocabulary {ab, ba}: round 1 merges the global argmax pair,
    # round 2 merges the other word's pair, round 3+ has nothing left
    spark.createDataFrame(
        [Row(doc_id=1, text="ab ba ab"), Row(doc_id=2, text="ba ab")]
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    merges = sorted(
        (r.rnd, r.merged, r.cnt)
        for r in tk02_bpe_trainer(spark, str(tmp_path)).collect()
    )
    assert merges == [(1, "ab", 3), (2, "ba", 2)], merges

    audit = {
        r.word: (r.n_syms, r.saved)
        for r in tk03_bpe_compression(spark, str(tmp_path)).collect()
    }
    assert audit == {"ab": (1, 1), "ba": (1, 1)}, audit


def test_a17_dead_funnel_rates_are_defined(spark, tmp_path):
    """A corpus with activity but ZERO stage-1 events (nobody views)
    must report 0-user stages with DEFINED rates — the step rate after
    a dead stage is pinned to 0.0 on both engines, never the 0/0 NaN
    a naive division would produce (NaN hash behavior is
    engine-fragile; the a16 ADVICE lesson applied proactively)."""
    import datetime as dt
    import math

    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        a17_conversion_funnel,
    )

    B = dt.datetime(2026, 1, 1)
    rows = [
        Row(event_id=1, ts=B, user_id=1, event_type="click", value=1.0,
            props="{}"),
        Row(event_id=2, ts=B, user_id=2, event_type="purchase", value=1.0,
            props="{}"),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {
        r.stage_no: r for r in a17_conversion_funnel(spark, str(tmp_path)).collect()
    }
    assert got[0].n_users == 2 and got[0].conv_prev == 1.0
    for k in (1, 2, 3):
        assert got[k].n_users == 0
        assert got[k].conv_start == 0.0
        assert not math.isnan(got[k].conv_prev), got[k]
    assert got[1].conv_prev == 0.0  # 0 of 2
    assert got[2].conv_prev == 0.0 and got[3].conv_prev == 0.0  # dead stages


def test_tk04_encode_applies_merges_and_fallback(spark, tmp_path):
    """Sennrich-apply semantics on a hand corpus: with rounds=1 only
    the global argmax pair ('ab', weighted count 4) has merged, so
    'ab' encodes to 1 token, 'ba' and 'qz' stay at 2 symbols, and
    out-of-dictionary words (non-^[a-z]+$) count as ONE fallback token
    each; with the default 8-round budget — far past this corpus's
    3-round pair supply — every alpha word is fully merged and the
    exhaustion guard keeps the dictionary intact (tk02's annihilation
    lesson applied to the encode leg)."""
    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        tk04_bpe_encode,
    )

    spark.createDataFrame(
        [
            Row(doc_id=1, text="ab ba ab"),
            Row(doc_id=2, text="ba ab"),
            Row(doc_id=3, text="ab x9 qz"),
        ]
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    partial = {
        r.doc_id: (r.n_words, r.n_tok_bpe)
        for r in tk04_bpe_encode(spark, str(tmp_path), rounds=1).collect()
    }
    # doc1: ab(1) + ba(2) + ab(1); doc2: ba(2) + ab(1);
    # doc3: ab(1) + x9(fallback 1) + qz(2)
    assert partial == {1: (3, 4), 2: (2, 3), 3: (3, 4)}, partial

    full = {
        r.doc_id: (r.n_words, r.n_tok_bpe)
        for r in tk04_bpe_encode(spark, str(tmp_path)).collect()
    }
    assert full == {1: (3, 3), 2: (2, 2), 3: (3, 3)}, full


def test_cp04_survives_fully_scrubbed_source(spark, tmp_path):
    """The zero-supply guard (the a17 0/0 lesson): a mixture source
    whose every token sits inside a duplicated span scrubs to ZERO
    unique supply — it must drop out of the allocation instead of
    feeding n_tok = 0 into the integer division (Spark DIV -> NULL
    row, DuckDB // -> error), while the surviving sources allocate
    normally."""
    from pyspark.sql import Row

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        cp04_span_scrub_pipeline,
    )

    dup = "a b c d e f g h i j k l"  # 12 tokens, fully covered (>= 8)
    spark.createDataFrame(
        [
            Row(doc_id=1, text=dup, lang="en", source="src1", n_chars=1),
            Row(doc_id=2, text=dup, lang="en", source="src1", n_chars=1),
            Row(doc_id=3, text="m n o p q r s t u v", lang="en",
                source="src3", n_chars=1),
            Row(doc_id=4, text="w x y z aa bb cc dd ee ff", lang="en",
                source="src5", n_chars=1),
        ]
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    rows = {
        r.source: (r.n_raw_tok, r.n_tok, r.target_tok, r.epochs,
                   r.eff_tok, r.utilization)
        for r in cp04_span_scrub_pipeline(spark, str(tmp_path)).collect()
    }
    # src1 scrubbed to nothing -> absent; n_all = 20 unique tokens,
    # wsum = 10, mult = 3: src3 (w=4) targets 24 -> 3 epochs,
    # eff 2*10 - 10//4 = 18; src5 (w=3) targets 18 -> 2 epochs, eff 15
    assert rows == {
        "src3": (10, 10, 24, 3, 18, 0.75),
        "src5": (10, 10, 18, 2, 15, 0.833333),
    }, rows


def _gr03_corpus(spark, path, nations, lineitem):
    spark.createDataFrame(
        list(enumerate(nations)), "s_suppkey long, s_nationkey long"
    ).write.parquet(str(path / "supplier.parquet"))
    spark.createDataFrame(
        lineitem, "l_orderkey long, l_suppkey long"
    ).write.parquet(str(path / "lineitem.parquet"))


def test_gr03_deep_chain_escape(spark, tmp_path):
    """On a synthetic 40-supplier PATH graph (diameter beyond label
    propagation's switch cap), gr03 must not emit unconverged labels:
    its kernel restarts on the O(log n) star contraction and reports
    the one true component as converged."""
    n = 40
    # order i is supplied by suppliers i and i+1 -> co-purchase edges
    # form the path 0-1-...-39, all in one nation block
    _gr03_corpus(
        spark,
        tmp_path,
        [0] * n,
        [(i, i) for i in range(n - 1)] + [(i, i + 1) for i in range(n - 1)],
    )
    rows = REGISTRY["gr03_connected_components"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].n_nodes == n
    assert rows[0].min_node == 0 and rows[0].max_node == n - 1
    assert rows[0].converged  # the escape kernel converged for real


def test_gr03_without_domestic_edges_is_all_singletons(spark, tmp_path):
    """Every supplier in its own nation: the co-purchase edges exist
    but none survives the same-nation block, so the kernel sees an
    empty edge list and every supplier is a converged singleton."""
    n = 6
    _gr03_corpus(spark, tmp_path, list(range(n)), [(0, i) for i in range(n)])
    rows = REGISTRY["gr03_connected_components"].fn(spark, str(tmp_path)).collect()
    assert sorted(
        (r.component, r.n_nodes, r.min_node, r.max_node, r.converged)
        for r in rows
    ) == [(i, 1, i, i, True) for i in range(n)]


def test_rk01_bm25_leg_matches_ix02_ranking(spark, sf_dir):
    """rk01's ``lex="bm25"`` production leg serves its lexical ranks
    from ix02's postings machinery; wherever the oracle-verified ix02
    entry and the fusion output rank the same (query, doc), the ranks
    must agree — the leg is the INDEX ranking, not a reimplementation.
    The semantic leg and the fusion algebra are unchanged, so the
    output schema and per-query depth match the default form."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _RRF_TOPK,
        ix02_bm25_topk,
        rk01_rank_fusion,
    )

    fused = rk01_rank_fusion(spark, sf_dir, lex="bm25").collect()
    default = rk01_rank_fusion(spark, sf_dir).collect()
    assert {tuple(r.asDict()) for r in fused} == {
        tuple(r.asDict()) for r in default
    }  # same schema
    per_q = {}
    for r in fused:
        per_q.setdefault(r.q_id, []).append(r)
    assert per_q and all(len(v) <= _RRF_TOPK for v in per_q.values())

    ix = {
        (r.q_id, r.doc_id): r["rank"]
        for r in ix02_bm25_topk(spark, sf_dir).collect()
    }
    checked = 0
    for r in fused:
        k = (r.q_id, r.doc_id)
        if r.lex_rk and k in ix:
            assert r.lex_rk == ix[k], (k, r.lex_rk, ix[k])
            checked += 1
    assert checked >= 10, f"only {checked} overlapping ranks checked"

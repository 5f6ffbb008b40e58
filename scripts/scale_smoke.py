#!/usr/bin/env python3
"""Scale-smoke: measure how the heavy document operators scale when the
corpus grows KX, as direct evidence for the linear-scaling claims in
the operator docstrings.

Builds a KX corpus in /tmp by replicating sf0.1 documents with shifted
doc_ids and per-copy text perturbation (so dedup/LSH ops see realistic
near-dup structure instead of a degenerate all-identical corpus), then
times each op at 1x and Kx and reports the wall ratio. A shuffle- or
pair-explosion regression shows up as ratio >> K.

Usage: python scripts/scale_smoke.py [K]   (default 20)
Writes nothing outside /tmp; prints one JSON line per op + a summary.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (
    REGISTRY,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.session import (
    get_spark,
)

BASE = "/root/testdata/sf0.1"
#: document-table operators whose docstrings claim (near-)linear scale
OPS = [
    "txt02_quality_scores",
    "txt05_gopher_filters",
    "txt06_token_rarity",
    "rep02_ngram_repetition",
    "dd01_exact_dedup",
    "dd02_minhash_lsh_pairs",
    "dd09_boilerplate_spans",
    "ds05_source_mixture",
    "ds06_token_budget_select",
    "cp01_corpus_curation_pipeline",
    "ch01_context_chunks",
    "ds11_length_quantile_trim",
    # round-7 late additions: the bloom probe's build side collapses to
    # <=4096 words and the CMS's shuffled state is d*w cells — both are
    # scan-dominated, hence linear
    "dd12_bloom_incremental",
    "sk01_cms_heavy_hitters",
    # pair mining = dd02's banded-LSH plan + a pair-table-sized
    # negative stage; linear as long as dd02 stays linear
    "tp01_contrastive_pairs",
    # snapshot diff = one key-partitioned full-outer join (delta-sized
    # output); rank fusion = one broadcast-query documents scan plus
    # one Arrow query-block scan of the embeddings (nn01's scaffold),
    # with depth-bounded per-query state — both linear in corpus size
    "cdc01_snapshot_delta",
    "rk01_rank_fusion",
    # coverage curve: corpus work is one token->tf shuffle; the serial
    # window sees only distinct tf VALUES. padding audit: one
    # bucket-keyed partial agg. both scan-dominated, hence linear
    "vc01_vocab_coverage",
    "pd01_padding_efficiency",
    # hard negatives = dd02's banded-LSH positives (an unhinted
    # anti-join) + one Arrow query-block scoring scan of the embeddings
    # (nn01's scaffold) — linear as long as dd02 stays linear
    "tp02_hard_negatives",
    # co-occurrence: the self-join quadratic is per-basket-bounded
    # (baskets don't grow with corpus size), so pair volume — and the
    # whole plan — scales with the fact table
    "co01_supplier_cooccurrence",
    # round-8 additions. incremental pipeline: one doc_id-keyed diff +
    # the bloom/eval broadcasts — scan-dominated. BPE mining: the
    # corpus collapses to the word dictionary first, so added corpus
    # volume only grows the map-side partials. mixture rollup: one
    # Expand aggregate. winnowing: fingerprints are computed in the
    # scan projection and the pair join is bucket-confined — linear
    # while bucket occupancy stays bounded (the near-dup perturbation
    # keeps fingerprint buckets copy-sized, the dd02 argument). LM
    # scoring: two dictionary joins + one doc_id reassembly shuffle.
    "cp03_incremental_pipeline",
    "tk01_bpe_merge_mining",
    "a15_mixture_rollup",
    "dd13_winnow_pairs",
    "lm01_bigram_likelihood",
    # round-9 additions. span dedup: positional hashes in the scan
    # projection, one (doc_id, h) distinct + df count, an unhinted
    # equi semi-join on h, per-doc windows — NO pair join exists, so
    # hot boilerplate hashes cannot blow anything up (each occurrence
    # meets exactly one df row). BPE trainer: the corpus collapses to
    # the word dictionary ONCE; all 8 rounds iterate vocab-sized
    # state, so corpus growth touches only the wd0 build. epoch
    # allocation: one per-source partial-sum aggregate, dimension-
    # sized everything after.
    "dd14_duplicate_spans",
    "tk02_bpe_trainer",
    "ds12_epoch_allocation",
    # span scrubbing composes dd14 + one token posexplode + an
    # unhinted (doc_id, pos) anti-join; compression audit is a
    # projection over tk02's final dictionary — both linear
    "dd15_span_scrub",
    "tk03_bpe_compression",
    # round-10 additions. URL dedup: a regex-chain scan projection +
    # one canonical-URL keyed aggregate. BPE encode: the corpus
    # collapses to the dictionary once (tk02's argument) and the
    # encode pass is one vocab-keyed equi-join + a doc_id rollup —
    # both scan-dominated. span-scrub pipeline: dd14/dd15's gated
    # plans + a dimension-sized allocation tail. joint pair dedup:
    # composes dd02's banded-LSH (gated above), mm04's digest-only
    # frame pass and two media_id-keyed LEFT joins — linear while
    # dd02 stays linear.
    "dd16_url_dedup",
    "tk04_bpe_encode",
    "cp04_span_scrub_pipeline",
    "mm05_pair_dedup",
    # end-of-round-10 additions. LM filter: lm01's argument — two
    # vocabulary-bounded dictionary joins (trained on the lang slice)
    # + the one doc_id reassembly shuffle. classifier apply: a
    # zero-shuffle projection, the most linear thing in the registry.
    # quality gate: the projection legs + lm02's gated plan + one
    # doc_id LEFT join. dup-graph cohesion: dd02's banded-LSH (gated
    # above) + two self-joins on the PAIR-sized edge set — linear
    # while dd02 stays linear and dup clusters stay copy-sized (the
    # same perturbation argument as dd13's buckets).
    "lm02_crossentropy_buckets",
    "qf01_linear_quality_classifier",
    "cp05_quality_gate_pipeline",
    "gr02_dup_graph_cohesion",
    # round-11 addition. inverted index: one corpus explode to
    # (term, doc), two map-side-combinable keyed aggregates, and a
    # term-PARTITIONED top-k window whose per-partition state is the
    # postings list — corpus growth widens partitions, never the plan.
    "ix01_inverted_index",
    # round-12 additions. BM25 serving: ix01's build (gated above) +
    # a dictionary-sized postings join against the bounded query
    # block and a query-partitioned top-k — corpus growth only grows
    # the build. calibration audit: qf01's zero-shuffle projection +
    # one bin-dictionary keyed aggregate.
    "ix02_bm25_topk",
    "qf02_calibration_audit",
    # round-13 additions. phrase index: bigram extraction is a per-row
    # generator (no self-join), the phrase-doc table is one keyed
    # aggregate, mining is TakeOrdered and serving a 10-row broadcast —
    # scan-dominated end to end. k-core: dd02's banded-LSH (gated
    # above) + fixed peel rounds over the PAIR-sized edge set with
    # broadcast survivor dictionaries — linear while dd02 stays linear
    # and dup clusters stay copy-sized (the gr02 argument).
    "ix04_phrase_index",
    "gr04_kcore",
]


#: embedding-table operators (VERDICT r05 item 6): each entry is
#: (label, fn(spark, sf_dir, k)) where k=1 is the untouched sf0.1
#: baseline and k>1 runs against the drifted K-times corpus with the
#: operator's own documented scale knob matched to the corpus growth —
#: occupancy-constant schedules, so a flat per-bucket/per-cell join is a
#: measured property instead of a docstring claim.
def _emb_op_dd05(spark, sf_dir, k):
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _NEARDUP_BITS,
        dd05_embedding_neardup,
    )

    # +log2(K) hyperplane bits per table keeps expected bucket occupancy
    # flat as the corpus grows (the docstring's "tune bits with corpus
    # size" discipline)
    bits = _NEARDUP_BITS + (max(0, round(math.log2(k))) if k > 1 else 0)
    return dd05_embedding_neardup(spark, sf_dir, bits=bits)


def _emb_op_dd10(spark, sf_dir, k):
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _IVF_CELLS,
        dd10_semantic_dedup,
    )

    # cells ~ sqrt(corpus): the schedule that BALANCES the two cost
    # terms — assignment is rows*cells, the within-cell join is
    # rows*occupancy = rows^2/cells; both land at rows^1.5 when
    # cells ~ sqrt(rows). (An occupancy-constant cells ~ rows schedule
    # was tried first: it makes the join linear but turns the
    # assignment fold quadratic — measured ratio 66.7 at K=20.)
    return dd10_semantic_dedup(
        spark, sf_dir, cells=_IVF_CELLS * math.ceil(math.sqrt(k))
    )


def _emb_op_dd11(spark, sf_dir, k):
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        _HIER_COARSE,
        _IVF_CELLS,
        dd11_hierarchical_semdedup,
    )

    # the hierarchical schedule: fine cells ~ n^(2/3) keeps occupancy
    # (and the within-cell join) at n^(1/3) per row, coarse ~ n^(1/3)
    # keeps the per-row assignment at k1 + k/k1 ~ n^(1/3) folds — both
    # stages land at Θ(n^(4/3)), below single-level dd10's Θ(n^1.5)
    return dd11_hierarchical_semdedup(
        spark,
        sf_dir,
        cells=_IVF_CELLS * math.ceil(k ** (2.0 / 3.0)),
        coarse=_HIER_COARSE * math.ceil(k ** (1.0 / 3.0)),
    )


def _emb_op_nn06(spark, sf_dir, k):
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.training_queries import (
        nn06_residual_ivfpq,
    )

    # fixed cells/probes: the probed candidate stream is a constant
    # FRACTION of the corpus, so the op should scale linearly with no
    # knob change
    return nn06_residual_ivfpq(spark, sf_dir)


#: (label, fn, ratio_bound(k)) — each op is gated against its DOCUMENTED
#: growth law, not a blanket linear bound: dd05 (occupancy-matched LSH)
#: and nn06 (constant probed fraction) are linear; single-level SemDeDup
#: is Θ(n^1.5) at its optimal sqrt-cells schedule (see _emb_op_dd10);
#: dd11's hierarchical coarse->fine assignment — the documented scale
#: extension — drops that to Θ(n^(4/3)) and is gated at ITS law, so a
#: regression back to single-level cost trips the smoke.
EMB_OPS = [
    ("dd05_embedding_neardup", _emb_op_dd05, lambda k: 2 * k),
    ("dd10_semantic_dedup", _emb_op_dd10, lambda k: 2 * k**1.5),
    # the hierarchical assignment's improved law (VERDICT r06 item 2):
    # gated BELOW dd10's n^1.5 at its own documented n^(4/3)
    ("dd11_hierarchical_semdedup", _emb_op_dd11, lambda k: 2 * k ** (4.0 / 3.0)),
    ("nn06_residual_ivfpq", _emb_op_nn06, lambda k: 2 * k),
]


def build_scaled(spark, k: int, out_dir: str) -> None:
    """K near-dup-perturbed copies of the corpus, ids disjoint."""
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n = docs.count()
    copies = (
        docs.crossJoin(spark.range(k).select(F.col("id").alias("copy")))
        .select(
            (F.col("doc_id") + F.col("copy") * (n * 10)).alias("doc_id"),
            # per-copy tail perturbation: copies are NEAR-dups (realistic
            # for dedup/LSH), not byte-dups (degenerate)
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.col("text"),
                    F.lit(" rev "),
                    F.col("copy").cast("string"),
                    F.lit(" tag "),
                    (F.col("doc_id") % 97).cast("string"),
                )
            )
            .alias("text"),
            "lang",
            "source",
        )
        # n_chars must describe the PERTURBED text, not the input column
        .withColumn("n_chars", F.length("text"))
    )
    copies.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    # embeddings: K drifted copies per vector with GROWING per-copy
    # noise (copy c gets noise of relative magnitude 0.4 + 0.25*c), so
    # any base spawns a BOUNDED band of mutual near-dups at the 0.4
    # cosine threshold (~13 pairs per base, independent of K) instead
    # of a K-clique — realistic dup structure whose pair count grows
    # linearly with the corpus, which is what lets the ratio gate tell
    # a quadratic candidate stage from honest dup growth. The noise
    # components come from Murmur3 (F.hash) over (vec_id, copy, dim) —
    # deterministic AND decorrelated across bases; a first cut used
    # phase-shifted cos(vec_id*a + i*b) curves, which are mutually
    # correlated at corr=cos(Δphase), so every high-noise copy of EVERY
    # base drifted toward one shared direction and the "bounded band"
    # became a 40k-wide cross-base clique (120M pairs at K=20).
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    m = emb.count()
    # noise-norm calibration reads the ACTUAL embedding dimension (ADVICE
    # r06: a hardcoded 64 would silently mis-scale the near-dup band if
    # the corpus dim ever changed, drifting every ratio gate built on it)
    dim = len(emb.select("embedding").first()[0])
    vd = F.transform("embedding", lambda x: x.cast("double"))
    ecopies = (
        emb.crossJoin(spark.range(k).select(F.col("id").alias("copy")))
        .select(
            (F.col("vec_id") + F.col("copy") * (m * 10)).alias("vec_id"),
            vd.alias("v"),
            "copy",
            "label",
        )
        .withColumn(
            "nrm", F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
        )
        .select(
            "vec_id",
            F.when(F.col("copy") == 0, F.col("v"))
            .otherwise(
                # noise vector of ~unit RMS per dim, scaled to
                # (0.4 + 0.25*copy) * |v| overall
                F.transform(
                    "v",
                    lambda x, i: x
                    + (0.4 + 0.25 * F.col("copy"))
                    * F.col("nrm")
                    # uniform [-1, 1] per (vec_id, copy, dim): RMS 1/sqrt(3),
                    # so the dim-dim noise norm ~ sqrt(dim/3)
                    / math.sqrt(dim / 3.0)
                    * (
                        (F.pmod(F.hash(F.col("vec_id"), F.col("copy"), i), F.lit(2001)) - 1000)
                        / 1000.0
                    ),
                )
            )
            .cast("array<float>")
            .alias("embedding"),
            "label",
        )
    )
    ecopies.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    # the remaining tables are referenced by some composed plans;
    # link them through unchanged
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ]:
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")


def _release_blocks(spark) -> None:
    """Between-op hygiene: drop the previous op's cached/checkpointed
    blocks so its memory footprint cannot tax the NEXT op's timing.
    Ops that localCheckpoint(eager=False) leave materialized RDD blocks
    in the BlockManager until the Python references are GC'd and the
    ContextCleaner runs — on the x20 corpus those blocks are large
    enough to distort later measurements (dd05's x20 leg measured 65 s
    in a lean session vs 147 s after the round-8 ops ran first).

    gc alone is NOT enough (ADVICE r08): the ContextCleaner processes
    its reference queue asynchronously, so blocks can outlive both gc
    calls. The fix is explicit: every persistent RDD still registered
    with the context — localCheckpoint blocks included; no prior op's
    DataFrame is ever reused across ops, so dropping them is safe —
    gets a BLOCKING unpersist, which returns only after the
    BlockManager has removed the blocks. Methodology note: blocking
    unpersist (r09) makes per-op timings independent of cleaner
    latency; rounds ≤ r07 had neither this nor the gc pass, so their
    stored x20 numbers for checkpoint-heavy ops read up to ~40% high
    under cross-op pressure (the dd05 case above)."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()


def time_op(spark, name: str, sf_dir: str) -> tuple[float, int]:
    _release_blocks(spark)
    t0 = time.monotonic()
    rows = REGISTRY[name].fn(spark, sf_dir).count()
    return time.monotonic() - t0, rows


def skew_scenario(spark, out_dir: str) -> dict:
    """The pathological-skew case operators/skew.py exists for: one hot
    key owns 90% of the big side and the right side is declared
    non-broadcastable (autoBroadcast off) with AQE's skew splitting
    disabled — i.e. the naive sort-merge join funnels 90% of the rows
    through ONE reducer. ``salted_join`` must spread that reducer's
    work across its salts and measurably beat the naive plan on the
    same inputs. Both runs share identical inputs and identical conf."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.skew import (
        salted_join,
    )

    docs = spark.read.parquet(f"{out_dir}/documents.parquet")
    # re-key: 90% of rows land on one hot seller, the rest spread thin
    big = docs.select(
        F.when(F.col("doc_id") % 10 < 9, F.lit("seller_hot"))
        .otherwise(F.concat(F.lit("seller_"), (F.col("doc_id") % 997).cast("string")))
        .alias("seller_id"),
        "n_chars",
    )
    sellers = [("seller_hot",)] + [(f"seller_{i}",) for i in range(997)]
    right = spark.createDataFrame(sellers, "seller_id string").withColumn(
        "seller_rank", F.length("seller_id")
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    # confs that were UNSET before (e.g. adaptive.autoBroadcastJoinThreshold,
    # which falls back to the non-adaptive knob) must be unset again, not
    # left pinned to the scenario's -1 for the rest of the session
    try:
        def run(df):
            t0 = time.monotonic()
            n = df.groupBy("seller_id").agg(
                F.sum("n_chars").alias("chars"), F.max("seller_rank").alias("r")
            ).count()
            return time.monotonic() - t0, n

        naive_s, naive_n = run(big.join(right, "seller_id"))
        salted_s, salted_n = run(salted_join(big, right, "seller_id", n_salts=16))
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    assert naive_n == salted_n, (naive_n, salted_n)
    return {
        "naive_s": round(naive_s, 2),
        "salted_s": round(salted_s, 2),
        "speedup": round(naive_s / salted_s, 2) if salted_s > 0 else float("inf"),
        "rows": naive_n,
    }


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    out_dir = f"/tmp/scale_smoke_sf0.1x{k}"
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    # a crashed prior build leaves a partial corpus — rebuild unless
    # EVERY table landed
    tables = [
        "documents", "region", "nation", "customer", "supplier",
        "part", "orders", "lineitem", "events", "embeddings",
    ]
    if not all(os.path.exists(f"{out_dir}/{t}.parquet") for t in tables):
        shutil.rmtree(out_dir, ignore_errors=True)
        build_scaled(spark, k, out_dir)

    # Untimed warm-up at BOTH SFs so the first op's 1x baseline doesn't
    # absorb one-time session/IO warm-up (which inflated base_s and
    # deflated that op's reported ratio).
    for d in (BASE, out_dir):
        spark.read.parquet(f"{d}/documents.parquet").count()

    results = {}
    for name in OPS:
        # run at 1x first (absorbs per-op codegen/analysis, gives the baseline)
        base_s, base_rows = time_op(spark, name, BASE)
        big_s, big_rows = time_op(spark, name, out_dir)
        ratio = big_s / base_s if base_s > 0 else float("inf")
        results[name] = {
            "base_s": round(base_s, 2),
            f"x{k}_s": round(big_s, 2),
            "ratio": round(ratio, 1),
            "rows": [base_rows, big_rows],
        }
        print(json.dumps({"op": name, **results[name]}), flush=True)

    # embedding-side operators (VERDICT r05 item 6): baseline on the
    # untouched sf0.1 embeddings, Kx on the drifted corpus with each
    # op's scale knob matched to the growth (see EMB_OPS)
    bounds = {name: 2 * k for name in OPS}
    for label, fn, bound in EMB_OPS:
        bounds[label] = round(bound(k), 1)
        _release_blocks(spark)
        t0 = time.monotonic()
        base_rows = fn(spark, BASE, 1).count()
        base_s = time.monotonic() - t0
        _release_blocks(spark)
        t0 = time.monotonic()
        big_rows = fn(spark, out_dir, k).count()
        big_s = time.monotonic() - t0
        ratio = big_s / base_s if base_s > 0 else float("inf")
        results[label] = {
            "base_s": round(base_s, 2),
            f"x{k}_s": round(big_s, 2),
            "ratio": round(ratio, 1),
            "bound": bounds[label],
            "rows": [base_rows, big_rows],
        }
        print(json.dumps({"op": label, **results[label]}), flush=True)

    skew = skew_scenario(spark, out_dir)
    print(json.dumps({"op": "skewed_join_salted_vs_naive", **skew}), flush=True)

    # each op is judged against its documented growth law (2K for the
    # linear ops; 2*K^1.5 for single-level SemDeDup — see EMB_OPS);
    # "worst" is worst RELATIVE to the op's own bound, so a quadratic
    # regression in any op trips the gate regardless of which law it
    # was supposed to follow
    rel = {name: r["ratio"] / bounds[name] for name, r in results.items()}
    worst = max(rel, key=rel.get)
    # The skew scenario gets its OWN ok flag (ADVICE r05): on small K or
    # few-core boxes the salting overhead can legitimately leave the
    # salted join at parity, and that should not flip an otherwise
    # healthy linear-scaling run red. Parity tolerance 0.9; the skew
    # gate only binds once the hot side is big enough for one reducer
    # to actually be the bottleneck.
    skew_binding = k >= 10  # hot side ~0.9*K*|docs| rows — big enough
    # for the single overloaded reducer to dominate only at real K
    skew_ok = (skew["speedup"] >= 0.9) if skew_binding else True
    print(
        json.dumps(
            {
                "summary": "scale_smoke",
                "k": k,
                "worst_op": worst,
                "worst_ratio": results[worst]["ratio"],
                "worst_vs_bound": round(rel[worst], 2),
                # fixed per-query overhead makes sublinear ratios normal;
                # a ratio well beyond the op's bound signals a stage
                # growing faster than its documented law
                "linear_bound": k * 2,
                "skew_speedup": skew["speedup"],
                "skew_ok": skew_ok,
                # the skew gate folds into the overall verdict whenever
                # it is binding (k >= 10): a salted-join regression at
                # real K must fail the smoke, not just flip its own flag
                # (ADVICE r06)
                "ok": rel[worst] <= 1.0 and skew_ok,
            }
        ),
        flush=True,
    )
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

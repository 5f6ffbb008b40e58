"""Market-stats builder (SURVEY §3.2): corpus → flat dim tables.

Reference ``poller/regex_analyzer.py:849-1022`` accumulates a nested
dict tree per (category → condition → {stats, components}); here it is
two groupBy aggregations plus a segment aggregate over one extracted
DataFrame — the flat relational form the risk engine broadcasts
(``operators/risk.py``). ``statistics.stdev`` ≡ ``stddev_samp``
(sample, not population), rounding 2dp, ≥2-sample cutoff for stats,
>3 for secondary segments — all per the reference.

Scale: one scan of the corpus feeds both aggregates (the extracted
frame is persisted); group keys are low-cardinality so the shuffles
are trivial; output dims are broadcast-sized by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.conditions import detect_condition
from ..functions.prices import clean_price
from ..functions.specs_arrow import with_specs_arrow
from .segment import market_segment


def build_market_stats(
    listings: DataFrame,
    specs_ready: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (prime_stats, comp_stats, secondary_stats).

    - prime_stats: category, condition, mean, median, stdev, count (≥2)
    - comp_stats: category, condition, comp_type, comp_name, mean,
      median, stdev, count (≥2)
    - secondary_stats: segment, mean, count (>3) — BROKEN / ACCESSORY /
      UNCERTAIN (JUNK rows are dropped entirely, regex_analyzer.py:936)

    ``specs_ready=True``: input already carries the with_specs columns
    (shared extraction pass — see score_listings); otherwise the row
    kernel ``with_specs_arrow`` extracts them.
    """
    df = listings.withColumn("price", clean_price(F.col("price")))
    if not specs_ready:
        df = with_specs_arrow(df, title_col="title", desc_col="description")
    api = F.col("api_condition") if "api_condition" in listings.columns else F.lit(None).cast("string")
    refurb = (
        F.col("is_refurbished") if "is_refurbished" in listings.columns else F.lit(None).cast("boolean")
    )
    df = df.withColumn(
        "condition", detect_condition(api, refurb, F.col("condition_regex"))
    ).withColumn(
        "segment",
        market_segment(F.lower(F.col("title")), F.col("price"), F.col("condition")),
    )
    # reference routing quirk (regex_analyzer.py:939-941): after the JUNK
    # drop, any item with NO cpu AND NO ram goes to the UNCERTAIN bucket —
    # even if its segment was PRIME, BROKEN or ACCESSORY. A segment already
    # UNCERTAIN falls through to otherwise(segment) unchanged, so the
    # explicit test is redundant.
    df = df.withColumn(
        "segment",
        F.when(
            (F.col("segment") != "JUNK")
            & F.col("cpu").isNull()
            & F.col("ram").isNull(),
            "UNCERTAIN",
        ).otherwise(F.col("segment")),
    )
    df = df.filter(F.col("segment") != "JUNK").persist()

    prime_src = df.filter(F.col("segment") == "PRIME")

    def agg_stats(grouped):
        return grouped.agg(
            F.round(F.avg("price"), 2).alias("mean"),
            F.round(F.median("price"), 2).alias("median"),
            F.round(F.stddev_samp("price"), 2).alias("stdev"),
            F.count(F.lit(1)).alias("count"),
        ).filter(F.col("count") >= 2)

    prime = agg_stats(prime_src.groupBy("category", "condition"))

    # unpivot cpu/gpu/ram to long form (A2): one row per detected component
    long = prime_src.select(
        "category",
        "condition",
        "price",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("comp_type"), F.col(c).alias("comp_name"))
                    for c in ("cpu", "gpu", "ram")
                ]
            )
        ).alias("comp"),
    ).select(
        "category", "condition", "price",
        F.col("comp.comp_type").alias("comp_type"),
        F.col("comp.comp_name").cast("string").alias("comp_name"),
    ).filter(F.col("comp_name").isNotNull())
    comp = agg_stats(long.groupBy("category", "condition", "comp_type", "comp_name"))

    secondary = (
        df.filter(F.col("segment") != "PRIME")
        .groupBy("segment")
        .agg(
            F.round(F.avg("price"), 2).alias("mean"),
            F.count(F.lit(1)).alias("count"),
        )
        .filter(F.col("count") > 3)
    )
    return prime, comp, secondary


def market_stats_tree(
    prime: DataFrame, comp: DataFrame, secondary: DataFrame
) -> dict:
    """Assemble the reference's nested market_stats.json document
    (CATEGORY → CONDITION → {mean, median, stdev, count, components:
    {cpu, ram, gpu}}, plus flat {mean, count} secondary-segment nodes —
    the reference's market_stats.json, built at
    regex_analyzer.py:968-1016; node shape pinned by
    tests/golden/market_stats_shape.json) from the flat dim tables.

    Every condition node carries ALL THREE component-type keys (the
    reference initializes its specs dict eagerly), empty dicts where no
    component name reached the ≥2 cutoff. The dims are broadcast-sized
    by construction (low-cardinality group keys), so the collect here
    is the same driver-side materialization the risk engine's broadcast
    joins already pay."""
    tree: dict = {}
    for r in prime.collect():
        tree.setdefault(r["category"], {})[r["condition"]] = {
            "mean": r["mean"],
            "median": r["median"],
            "stdev": r["stdev"],
            "count": r["count"],
            "components": {"cpu": {}, "ram": {}, "gpu": {}},
        }
    for r in comp.collect():
        node = tree.get(r["category"], {}).get(r["condition"])
        if node is None:
            continue  # comp group outlived its prime node (can't happen: ≥2 comp rows imply ≥2 node rows)
        node["components"][r["comp_type"]][r["comp_name"]] = {
            "mean": r["mean"],
            "median": r["median"],
            "stdev": r["stdev"],
            "count": r["count"],
        }
    for r in secondary.collect():
        tree[r["segment"]] = {"mean": r["mean"], "count": r["count"]}
    return tree

"""Skew handling where it matters (100 TB posture), at sf0.1:

1. AQE's skew-join splitting actually engages on a user_id-keyed join
   with a manufactured hot seller (90% of a 100k-row fact on one key) —
   the executed SortMergeJoin must carry ``skew=true``.
2. The explicit salted fallback (``operators/skew.salted_join``, for
   the case where the user dim is NOT broadcast-able) is row-identical
   to the plain join and really joins on the salt key.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.skew import (
    salted_join,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.sources.readers import (
    load_table,
)

SF01 = "/root/testdata/sf0.1"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF01), reason="sf0.1 testdata not present"
)


def _with_confs(spark, confs: dict):
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    return old


def _restore(spark, old: dict):
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_user_join(spark):
    """90% of events hitting one seller must trigger AQE's skew split
    on the shuffle join (thresholds lowered to sf0.1 byte sizes — at
    production sizes the defaults fire the same code path).

    Two preconditions discovered empirically, both real at any scale:
    AQE splits a skewed reduce partition at MAPPER-block granularity,
    so the skewed side needs >1 map task (the 2 MB test parquet scans
    as one task — repartition provides the mappers); and the dim side
    must arrive through a plain shuffle — a distinct()/groupBy dim
    reuses its aggregate's partitioning, the SMJ child pattern no
    longer matches, and OptimizeSkewedJoin declines. That second case
    is precisely where the explicit salted fallback below is the only
    lever."""
    events = load_table(spark, SF01, "events").repartition(16).select(
        F.when(F.col("event_id") % 10 < 9, F.lit(7))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "value",
    )
    dim = (
        load_table(spark, SF01, "events")
        .select("user_id")
        .distinct()
        .withColumn("grade", F.col("user_id") % 5)
        # cut the agg lineage: the join must see a fresh exchange on the
        # dim side or OptimizeSkewedJoin's child pattern doesn't match
        .localCheckpoint()
    )
    old = _with_confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        },
    )
    try:
        joined = events.join(dim, "user_id")
        assert len(joined.collect()) > 0  # execute THIS plan: AQE finalizes it
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        _restore(spark, old)
    assert "skew=true" in plan, "AQE skew split did not engage:\n" + plan[:2000]


_SPECCED = (
    "id string, title string, description string, price double, "
    "api_condition string, is_refurbished boolean, user_id long, "
    "cpu string, ram string, gpu string, category string, condition_regex string"
)

_ROWS = [
    # hot seller 1 (trusted), plus cold sellers exercising each user rule
    *[
        (f"h{i}", "Portatil gaming i7", "d" * 40, 200.0, None, None, 1,
         "INTEL I7", "16GB", "NVIDIA RTX 3060", "GAMING", "USED")
        for i in range(20)
    ],
    ("c1", "Portatil gaming i7", "d" * 40, 200.0, None, None, 2,
     "INTEL I7", None, None, "GAMING", "USED"),
    ("c2", "Portatil gaming i7", "d" * 40, 200.0, None, None, 3,
     "INTEL I7", None, None, "GAMING", "USED"),
    ("c3", "Portatil gaming i7", "d" * 40, 200.0, None, None, 99,  # no dim row
     "INTEL I7", None, None, "GAMING", "USED"),
]


def test_salted_user_join_is_row_identical(spark):
    """``salted_join`` on a hot seller is row-identical to the plain
    left join on the user dim, and really joins on the salt key."""
    listings = spark.createDataFrame(_ROWS, _SPECCED)
    users = spark.createDataFrame(
        [
            (1, 400, ["TOP seller"], "pro", 0),
            (2, 1, [], "user", 0),
            (3, 400, [], "user", 1),
        ],
        "user_id long, register_days int, badges array<string>, "
        "user_type string, scam_reports int",
    )
    plain = listings.join(users, "user_id", "left")
    salted = salted_join(listings, users, "user_id", n_salts=8, how="left")

    def rows(df):
        return sorted(map(tuple, df.select(*plain.columns).collect()), key=repr)

    assert rows(salted) == rows(plain)
    assert "__salt" in salted._jdf.queryExecution().optimizedPlan().toString()

"""End-to-end golden for the §3.2 stats pipeline against the node shape
of the reference's market_stats.json (built by
regex_analyzer.py:849-1022), vendored as
tests/golden/market_stats_shape.json.

The reference artifact's VALUES come from its private scraped corpus,
so they are not reproducible (the vendored file pins key sets and key
order only; its numbers are this corpus's); what IS replayable — and asserted here field-for-field — is
the output CONTRACT and the cutoff/routing semantics on a
hand-computable corpus:

- nested CATEGORY → CONDITION → {mean, median, stdev, count,
  components:{cpu, ram, gpu}} shape, all three component-type keys
  always present (possibly empty);
- ≥2-sample cutoff for prime nodes and component names, >3 for
  secondary segments (BROKEN/ACCESSORY/UNCERTAIN), JUNK dropped;
- the no-cpu-AND-no-ram → UNCERTAIN reroute (regex_analyzer.py:939-941)
  that steals rows from PRIME and BROKEN alike;
- statistics.mean/median/stdev (sample) rounded to 2dp.
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.stats import (
    build_market_stats,
    market_stats_tree,
)

SHAPE_ARTIFACT = os.path.join(
    os.path.dirname(__file__), "golden", "market_stats_shape.json"
)

SPECCED_SCHEMA = (
    "id string, title string, description string, price double, "
    "api_condition string, is_refurbished boolean, cpu string, ram string, "
    "gpu string, category string, condition_regex string"
)

ROWS = [
    # GAMING/USED node: 3 rows -> mean 500, median 500, stdev 100
    ("p1", "Portatil gamer", "d", 400.0, None, None, "INTEL I7", "16GB", "NVIDIA RTX 3060", "GAMING", "USED"),
    ("p2", "Portatil gamer", "d", 500.0, None, None, "INTEL I7", "8GB", None, "GAMING", "USED"),
    ("p3", "Portatil gamer", "d", 600.0, None, None, "INTEL I7", "16GB", "NVIDIA GTX 1650", "GAMING", "USED"),
    # GAMING/NEW singleton -> below the >=2 cutoff, absent from the tree
    ("p4", "Portatil gamer", "d", 1000.0, None, None, "INTEL I7", "16GB", None, "GAMING", "NEW"),
    # APPLE/LIKE_NEW: 2 rows; ram names are singletons -> ram key empty
    ("p5", "Ordenador de casa", "d", 800.0, None, None, "APPLE M2", "8GB", None, "APPLE", "LIKE_NEW"),
    ("p6", "Ordenador de casa", "d", 900.0, None, None, "APPLE M2", "16GB", None, "APPLE", "LIKE_NEW"),
    # BROKEN secondary: 4 rows (>3 -> present)
    ("b1", "Portatil roto", "d", 100.0, None, None, "INTEL I5", None, None, "GENERICO", "BROKEN"),
    ("b2", "Portatil roto", "d", 110.0, None, None, "INTEL I5", None, None, "GENERICO", "BROKEN"),
    ("b3", "Portatil roto", "d", 120.0, None, None, "INTEL I5", None, None, "GENERICO", "BROKEN"),
    ("b4", "Portatil roto", "d", 130.0, None, None, "INTEL I5", None, None, "GENERICO", "BROKEN"),
    # ACCESSORY: only 3 rows (not >3 -> absent)
    ("a1", "Funda bonita", "d", 20.0, None, None, "INTEL I5", None, None, "GENERICO", "USED"),
    ("a2", "Funda bonita", "d", 21.0, None, None, "INTEL I5", None, None, "GENERICO", "USED"),
    ("a3", "Funda bonita", "d", 22.0, None, None, "INTEL I5", None, None, "GENERICO", "USED"),
    # UNCERTAIN: 3 symbolic prices ...
    ("u1", "Portatil barato", "d", 2.0, None, None, "INTEL I5", None, None, "GENERICO", "USED"),
    ("u2", "Portatil barato", "d", 2.0, None, None, "INTEL I5", None, None, "GENERICO", "USED"),
    ("u3", "Portatil barato", "d", 2.0, None, None, "INTEL I5", None, None, "GENERICO", "USED"),
    # ... plus the no-cpu-AND-no-ram reroutes: a would-be PRIME row (gpu
    # alone does not save it) and a would-be BROKEN row
    ("u4", "Portatil potente", "d", 700.0, None, None, None, None, "NVIDIA RTX 3060", "GAMING", "USED"),
    ("u5", "Portatil potente", "d", 50.0, None, None, None, None, None, "GAMING", "BROKEN"),
    # JUNK: dropped entirely (JUNK wins over the no-specs reroute)
    ("j1", "Portatil caro", "d", 20000.0, None, None, None, None, None, "GAMING", "USED"),
]


@pytest.fixture(scope="module")
def tree(spark):
    df = spark.createDataFrame(ROWS, SPECCED_SCHEMA)
    prime, comp, secondary = build_market_stats(df, specs_ready=True)
    return market_stats_tree(prime, comp, secondary)


@pytest.fixture(scope="module")
def reference():
    with open(SHAPE_ARTIFACT, encoding="utf-8") as f:
        return json.load(f)


def _stats(prices):
    return {
        "mean": round(statistics.mean(prices), 2),
        "median": round(statistics.median(prices), 2),
        "stdev": round(statistics.stdev(prices), 2),
        "count": len(prices),
    }


def test_nested_shape_matches_reference_artifact(tree, reference):
    """Field-for-field contract parity with the reference artifact's
    node shape: same node key sets AND key order at every level."""
    ref_prime = reference["GAMING"]["USED"]
    ref_leaf = ref_prime["components"]["cpu"]["INTEL I7"]
    ref_secondary = reference["BROKEN"]
    for cat, conds in tree.items():
        if cat in ("BROKEN", "ACCESSORY", "UNCERTAIN"):
            assert list(conds.keys()) == list(ref_secondary.keys()), cat
            continue
        for cond, node in conds.items():
            assert list(node.keys()) == list(ref_prime.keys()), (cat, cond)
            assert sorted(node["components"].keys()) == sorted(
                ref_prime["components"].keys()
            ), (cat, cond)
            for ctype, names in node["components"].items():
                for name, leaf in names.items():
                    assert list(leaf.keys()) == list(ref_leaf.keys()), (
                        cat, cond, ctype, name,
                    )


def test_prime_cutoff_and_sample_statistics(tree):
    node = tree["GAMING"]["USED"]
    assert node == {
        **_stats([400.0, 500.0, 600.0]),
        "components": {
            "cpu": {"INTEL I7": _stats([400.0, 500.0, 600.0])},
            "ram": {"16GB": _stats([400.0, 600.0])},
            # both gpu names are singletons -> type key present, empty
            "gpu": {},
        },
    }
    # the planted singleton (GAMING, NEW) is below the >=2 cutoff
    assert "NEW" not in tree["GAMING"]
    # APPLE ram names are singletons: ram key present but empty
    apple = tree["APPLE"]["LIKE_NEW"]
    assert apple["components"]["ram"] == {}
    assert apple["components"]["cpu"]["APPLE M2"] == _stats([800.0, 900.0])


def test_secondary_cutoffs_and_uncertain_reroute(tree):
    # BROKEN: 4 rows (>3) present; the no-specs BROKEN row (u5) must NOT
    # be in it — it was rerouted to UNCERTAIN
    assert tree["BROKEN"] == {"mean": 115.0, "count": 4}
    # ACCESSORY: 3 rows, not >3 -> absent
    assert "ACCESSORY" not in tree
    # UNCERTAIN: 3 symbolic + 2 rerouted no-cpu-no-ram rows (u4 keeps its
    # gpu but still reroutes; u5 was BROKEN)
    assert tree["UNCERTAIN"] == {
        "mean": round((2.0 + 2.0 + 2.0 + 700.0 + 50.0) / 5, 2),
        "count": 5,
    }
    # the rerouted PRIME row must not appear as a (GAMING, USED) sample:
    # counts above already pin this (3, not 4) — and JUNK is gone
    assert "JUNK" not in tree


def test_tree_round_trips_through_json(tree):
    """The tree is the reference's serialization target: it must be
    json-serializable as-is and survive a round trip unchanged."""
    assert json.loads(json.dumps(tree)) == tree
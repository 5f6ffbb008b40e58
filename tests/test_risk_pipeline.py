"""Fixture tests for the composed risk engine (SURVEY §3.1 hard parts):
J1 fallback precedence + NEW ×1.2 re-score, symbolic price, hidden-price
correction + gate, condition precedence (refurbished > API > regex),
weighted composite Z, seller adjustments, scam override, clamp.

Expected values are hand-computed from the reference algorithm
(poller/poller.py:333-495,644-705), NOT from running our code.

All cases run through ONE score_listings plan (module-scope fixture):
per-test plans would pay plan building and job start-up per test for
zero extra coverage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.risk import (
    score_listings,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.stats import (
    build_market_stats,
)

LISTING_SCHEMA = (
    "id string, title string, description string, price double, "
    "api_condition string, is_refurbished boolean, user_id long"
)

LONG_DESC = "Buen estado funciona perfectamente sin problemas de bateria ni teclado"

ROWS = [
    # weighted-Z: cpu(200-550)/100=-3.5 w.5 | gpu(200-520)/80=-4.0 w.3 |
    # cat(200-500)/100=-3.0 w.1 → z=-3.61, est=534.44, score 70
    ("a", "Portatil gaming i7 rtx 3060", LONG_DESC, 200.0, None, None, 101),
    # NEW fallback → LIKE_NEW node only (600,120) → est 600×1.2=720,
    # re-z=(300-720)/120=-3.5, score 70
    ("b", "Portatil gaming i7 rtx 3060 nuevo precintado",
     "Producto nuevo sin abrir con factura del fabricante", 300.0, None, None, 102),
    # symbolic price
    ("c", "Portatil basico", LONG_DESC, 3.0, None, None, 103),
    # hidden-price correction: 2 → 500; LIKE_NEW→USED fallback, z=4.0
    ("d", "Ordenador viejo",
     "vendo por 500 euros este ordenador en perfecto estado general", 2.0,
     None, None, 104),
    # condition precedence
    ("e1", "Portatil gaming i7 rtx 3060", LONG_DESC, 450.0, "new", True, 105),
    ("e2", "Portatil gaming i7 rtx 3060", LONG_DESC, 450.0, "as_good_as_new", False, 106),
    ("e3", "Portatil gaming i7 rtx 3060 nuevo", LONG_DESC, 450.0, None, False, 107),
    # short-desc heuristic, no stats (GENERICO/USED absent for price 250)
    ("f", "Portatil basico", "corto", 250.0, None, None, 108),
    # seller adjustments on the 70-point base case
    ("g1", "Portatil gaming i7 rtx 3060", LONG_DESC, 200.0, None, None, 1),
    ("g2", "Portatil gaming i7 rtx 3060", LONG_DESC, 200.0, None, None, 2),
    ("g3", "Portatil gaming i7 rtx 3060", LONG_DESC, 200.0, None, None, 3),
    ("g4", "Portatil gaming i7 rtx 3060", LONG_DESC, 200.0, None, None, 4),
    # invalid price → dropped by F3
    ("h", "Portatil", "sin precio valido aqui", 0.0, None, None, 109),
]


@pytest.fixture(scope="module")
def scored(spark):
    prime = spark.createDataFrame(
        [
            ("GAMING", "USED", 500.0, 100.0),
            ("GAMING", "LIKE_NEW", 600.0, 120.0),
            ("GENERICO", "USED", 300.0, 50.0),
        ],
        "category string, condition string, mean double, stdev double",
    )
    comp = spark.createDataFrame(
        [
            ("GAMING", "USED", "cpu", "INTEL I7", 550.0, 100.0),
            ("GAMING", "USED", "gpu", "NVIDIA RTX 3060", 520.0, 80.0),
        ],
        "category string, condition string, comp_type string, comp_name string, "
        "mean double, stdev double",
    )
    users = spark.createDataFrame(
        [
            (1, 400, ["seller"], "individual", 0),   # dormant (sales=0)
            (2, 1, [], "individual", 0),             # new user
            (3, 800, ["TOP seller"], "pro", 0),      # trusted + TOP
            (4, 500, [], "individual", 2),           # reported scammer
        ],
        "user_id long, register_days int, badges array<string>, user_type string, scam_reports int",
    )
    reviews = spark.createDataFrame([(3, 95.0)] * 10, "user_id long, scoring double")
    listings = spark.createDataFrame(ROWS, LISTING_SCHEMA)
    out = score_listings(listings, prime, comp, users=users, reviews=reviews)
    return {r["id"]: r for r in out.collect()}


def test_weighted_z_and_extreme_anomaly(scored):
    r = scored["a"]
    assert r.category == "GAMING" and r.condition == "USED"
    assert r.composite_z == -3.61
    assert r.estimated_value == 534.44
    assert r.risk_score == 70
    assert "Statistically Cheap (Z=-3.61) [USED]" in r.risk_factors
    assert "EXTREME Price Anomaly" in r.risk_factors
    assert r.enriched  # z < -1.5 gates user enrichment


def test_new_condition_fallback_rescore(scored):
    r = scored["b"]
    assert r.condition == "NEW" and r.fallback_used
    assert r.estimated_value == 720.0
    assert r.composite_z == -3.5
    assert r.risk_score == 70


def test_symbolic_price_short_circuit(scored):
    r = scored["c"]
    assert r.risk_score == 0
    assert list(r.risk_factors) == ["Symbolic Price"]
    assert r.category == "UNCERTAIN_PRICE"
    assert r.composite_z == 0.0 and r.estimated_value == 0.0


def test_hidden_price_correction_gates_enrichment(scored):
    r = scored["d"]
    assert r.price == 500.0 and r.price_corrected
    assert r.condition == "LIKE_NEW" and r.fallback_used
    assert r.composite_z == 4.0
    assert r.risk_score == 0 and r.enriched


def test_condition_precedence_refurb_over_api(scored):
    assert scored["e1"].condition == "LIKE_NEW"  # refurbished FORCES LIKE_NEW
    assert "Verified Condition: LIKE_NEW" in scored["e1"].risk_factors
    assert scored["e2"].condition == "LIKE_NEW"  # API mapping
    assert scored["e3"].condition == "NEW"  # regex fallback, no verified factor
    assert not any("Verified" in f for f in scored["e3"].risk_factors)


def test_short_desc_heuristic(scored):
    r = scored["f"]
    assert r.risk_score == 15
    assert "Short Desc" in r.risk_factors


def test_seller_adjustments_and_scam_override(scored):
    assert scored["g1"].risk_score == 90  # 70 + 20 dormant
    assert "Dormant Account" in scored["g1"].risk_factors
    assert scored["g2"].risk_score == 100  # 70 + 30 new user
    # g3: 70 - 30 trusted (10 sales, 4.75 stars) - 50 TOP → clamp at 0
    assert scored["g3"].risk_score == 0
    assert "Trusted Seller (10+ reviews)" in scored["g3"].risk_factors
    assert "TOP SELLER" in scored["g3"].risk_factors
    assert scored["g4"].risk_score == 100  # scam override
    assert "REPORTED SCAMMER" in scored["g4"].risk_factors


def test_invalid_price_dropped(scored):
    assert "h" not in scored


def test_stats_builder_roundtrip(spark):
    # corpus: 3 GAMING/USED listings (i7+3060) at 400/500/600 and 5
    # UNCERTAIN (<5) rows → prime row (500, stdev 100), comp rows, and
    # an UNCERTAIN secondary bucket of 5
    rows = [
        (f"p{i}", "Portatil gaming i7 rtx 3060", LONG_DESC, float(p), None, None, 1)
        for i, p in enumerate([400, 500, 600])
    ] + [
        (f"u{i}", "Portatil gaming barato", LONG_DESC, 2.0, None, None, 1)
        for i in range(5)
    ]
    listings = spark.createDataFrame(rows, LISTING_SCHEMA)
    prime, comp, secondary = build_market_stats(listings)
    p = {(r.category, r.condition): r for r in prime.collect()}
    assert p[("GAMING", "USED")].mean == 500.0
    assert p[("GAMING", "USED")].stdev == 100.0
    assert p[("GAMING", "USED")].median == 500.0
    assert p[("GAMING", "USED")]["count"] == 3
    c = {(r.comp_type, r.comp_name): r for r in comp.collect()}
    assert c[("cpu", "INTEL I7")].mean == 500.0
    assert c[("gpu", "NVIDIA RTX 3060")]["count"] == 3
    s = {r.segment: r for r in secondary.collect()}
    assert s["UNCERTAIN"]["count"] == 5 and s["UNCERTAIN"].mean == 2.0


def test_es_document_export_schema(spark, scored):
    """Output contract: the exported document tree carries the ES
    mapping's field paths (index_template.json:23-82)."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.export import (
        to_es_documents,
    )

    cols = (
        "id string, title string, description string, price double, "
        "user_id long, category string, condition string, cpu string, "
        "ram string, gpu string, composite_z double, estimated_value double, "
        "fallback_used boolean, risk_score int, risk_factors array<string>"
    )
    data = [
        (
            r.id, r.title, r.description, r.price, r.user_id, r.category,
            r.condition, r.cpu, str(r.ram) if r.ram is not None else None,
            r.gpu, r.composite_z, r.estimated_value, bool(r.fallback_used),
            int(r.risk_score), list(r.risk_factors),
        )
        for r in scored.values()
    ]
    sdf = spark.createDataFrame(data, cols)
    docs = to_es_documents(sdf)
    schema = docs.schema
    assert schema["price"].dataType.fieldNames() == ["amount", "currency"]
    loc = schema["location"].dataType
    assert "geo" in loc.fieldNames()
    assert loc["geo"].dataType.fieldNames() == ["lat", "lon"]
    enr = schema["enrichment"].dataType
    assert enr.fieldNames() == ["risk_score", "risk_factors", "market_analysis"]
    ma = enr["market_analysis"].dataType
    assert ma["specs_detected"].dataType.fieldNames() == ["cpu", "ram", "gpu"]
    row = docs.filter(F.col("id") == "a").first()
    assert row.enrichment.risk_score == 70
    assert row.enrichment.market_analysis.detected_category == "GAMING"
    assert row.price.amount == 200.0 and row.price.currency == "EUR"


def test_run_ingest_batch_end_to_end(spark, tmp_path):
    """S9 orchestrator: NDJSON landing (with a corrupt line) → score →
    ES-shaped date-partitioned parquet → retention drop."""
    import datetime as dt
    import json
    import os

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.pipeline import (
        run_ingest_batch,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        {"id": "p1", "title": "Portatil gaming i7 rtx 3060", "description": LONG_DESC,
         "price": 200.0, "user_id": 9, "latitude": 40.4, "longitude": -3.7},
        {"id": "p2", "title": "Portatil basico", "description": LONG_DESC,
         "price": 350.0, "user_id": 9},
    ]
    (landing / "d.json").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n{broken json\n"
    )
    prime = spark.createDataFrame(
        [("GAMING", "USED", 500.0, 100.0)],
        "category string, condition string, mean double, stdev double",
    )
    comp = spark.createDataFrame(
        [], "category string, condition string, comp_type string, comp_name string, mean double, stdev double"
    )
    out = str(tmp_path / "lake")
    # seed an expired partition to prove the cleanup leg runs
    os.makedirs(os.path.join(out, "ingest_date=2020-01-01"))
    n = run_ingest_batch(spark, str(landing), prime, comp, out, retain_days=30)
    assert n == 2
    lake = spark.read.parquet(out)
    assert lake.count() == 2
    r = {x.id: x for x in lake.collect()}
    assert r["p1"].enrichment.market_analysis.detected_category == "GAMING"
    assert r["p1"].location.geo.lat == 40.4
    assert r["p2"].location.geo is None
    assert not os.path.exists(os.path.join(out, "ingest_date=2020-01-01"))

"""Golden parity tests: the Spark-native spec/price/segment/truncation
column library vs black-box outputs of the reference implementation
(tests/golden/reference_semantics.json, generated by executing
/root/reference/poller/regex_analyzer.py on a fixture corpus)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.prices import (
    extract_hidden_price,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.specs import (
    with_specs,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.textprep import (
    truncate_spam,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.segment import (
    market_segment,
)

GOLDEN = json.load(
    open(os.path.join(os.path.dirname(__file__), "golden", "reference_semantics.json"))
)


def test_specs_match_reference(spark):
    cases = GOLDEN["specs"]
    df = spark.createDataFrame(
        [(i, c["title"], c["desc"]) for i, c in enumerate(cases)],
        "idx int, title string, description string",
    )
    rows = {r["idx"]: r for r in with_specs(df).collect()}
    mismatches = []
    for i, c in enumerate(cases):
        r = rows[i]
        for field, expected in [
            ("cpu", c["cpu"]),
            ("ram", c["ram"]),
            ("gpu", c["gpu"]),
            ("category", c["category"]),
            ("condition_regex", c["condition"]),
        ]:
            if r[field] != expected:
                mismatches.append((c["title"][:40], field, r[field], expected))
    assert not mismatches, "\n".join(map(str, mismatches))


def test_hidden_price_matches_reference(spark):
    cases = GOLDEN["hidden_price"]
    df = spark.createDataFrame(
        [(i, c["title"], c["desc"]) for i, c in enumerate(cases)],
        "idx int, title string, description string",
    )
    out = {
        r["idx"]: r["hp"]
        for r in df.select(
            "idx", extract_hidden_price(F.col("title"), F.col("description")).alias("hp")
        ).collect()
    }
    mismatches = [
        (c["title"], out[i], c["price"])
        for i, c in enumerate(cases)
        if out[i] != c["price"]
    ]
    assert not mismatches, "\n".join(map(str, mismatches))


def test_segment_matches_reference(spark):
    cases = GOLDEN["segment"]
    df = spark.createDataFrame(
        [
            (i, c["title"].lower(), float(c["price"]), c["condition"])
            for i, c in enumerate(cases)
        ],
        "idx int, title_lower string, price double, condition string",
    )
    out = {
        r["idx"]: r["seg"]
        for r in df.select(
            "idx",
            market_segment(F.col("title_lower"), F.col("price"), F.col("condition")).alias(
                "seg"
            ),
        ).collect()
    }
    mismatches = [
        (c["title"], c["price"], out[i], c["segment"])
        for i, c in enumerate(cases)
        if out[i] != c["segment"]
    ]
    assert not mismatches, "\n".join(map(str, mismatches))


def test_spam_truncation_matches_reference(spark):
    cases = GOLDEN["truncate"]
    df = spark.createDataFrame(
        [(i, c["desc"]) for i, c in enumerate(cases)], "idx int, description string"
    )
    out = {
        r["idx"]: r["t"]
        for r in df.select("idx", truncate_spam(F.col("description")).alias("t")).collect()
    }
    mismatches = [
        (c["desc"][:40], out[i], c["out"]) for i, c in enumerate(cases) if out[i] != c["out"]
    ]
    assert not mismatches, "\n".join(map(str, mismatches))


def test_language_id_discriminates_real_text(spark):
    """The driver corpus's lang labels are random (same vocabulary for
    every label), so accuracy there is meaningless; on real sentences
    the stopword-hit argmax must discriminate."""
    from pyspark.sql import functions as F

    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.textstats import (
        distinct_tokens,
        predicted_lang,
    )

    cases = [
        ("the quick brown fox jumps over the lazy dog and it is happy", "en"),
        ("el perro corre por la calle y los gatos duermen en un sofa", "es"),
        ("le chat est sur la table et les enfants jouent pour une heure", "fr"),
        ("der hund und die katze sind nicht mit dem kind im garten", "de"),
        ("xyzzy plugh qwerty asdf zxcv", "unknown"),
    ]
    df = spark.createDataFrame(cases, "text string, expected string")
    rows = df.select(
        "expected", predicted_lang(distinct_tokens(F.col("text"))).alias("pred")
    ).collect()
    for r in rows:
        assert r.pred == r.expected, (r.expected, r.pred)


def test_specs_arrow_row_pipeline_matches_reference():
    """The Arrow scale path (functions/specs_arrow.py) must reproduce the
    reference black-box outputs directly — not just match the SQL twin.
    Pure-Python check, no Spark session needed: extract_specs_row IS the
    per-row pipeline the executors run inside mapInPandas."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.specs_arrow import (
        extract_specs_row,
    )

    mismatches = []
    for c in GOLDEN["specs"]:
        cpu, ram, gpu, category, condition = extract_specs_row(c["title"], c["desc"])
        for field, got, expected in [
            ("cpu", cpu, c["cpu"]),
            ("ram", ram, c["ram"]),
            ("gpu", gpu, c["gpu"]),
            ("category", category, c["category"]),
            ("condition", condition, c["condition"]),
        ]:
            if got != expected:
                mismatches.append((c["title"][:40], field, got, expected))
    assert not mismatches, "\n".join(map(str, mismatches))


#: Hardware-spec fragments for the seeded fuzz corpus: mixed case,
#: dashes, accents, storage-vs-RAM traps, conflicting brands.
FUZZ_FRAGS = [
    "i7", "core i7", "core-i5", "I3", "ryzen 5", "ryzen-7", "RYZEN9",
    "m1", "m2 pro", "M3 Max", "m.2 ssd", "ssd m.2", "SSD M2", "xeon",
    "celeron", "pentium", "snapdragon", "sq2", "atom",
    "16gb", "8 gigas", "32 GB", "64gb ssd", "12gb de ram", "128gb",
    "4gb", "1000gb", "24GB", "6 Gb", "40 gigas", "48gb de almacenamiento",
    "rtx 3060", "gtx-1650", "RTX3090ti", "rx 570", "radeon", "geforce",
    "quadro t1000", "nvidia", "amd", "intel", "apple", "microsoft",
    "chromebook", "macbook pro", "mac air", "imac", "macos", "surface",
    "thinkpad", "xps", "zenbook", "alienware", "rog", "gaming", "gamer",
    "nuevo", "precintado", "como nuevo", "impecable", "roto", "averiado",
    "para piezas", "pantalla rota", "sin uso", "garantia", "reacondicionado",
    "portátil", "ordenador", "venta", "barato", "región", "año", "",
    "ps5 xbox iphone samsung asus msi", "rtx gtx amd intel ryzen i7",
]


def fuzz_cases() -> list[tuple[int, str, str]]:
    """Seeded adversarial corpus of 300 (idx, title, description) composed
    from FUZZ_FRAGS; descriptions carry random newlines (spam-line
    truncation)."""
    import random

    rng = random.Random(20260814)

    def compose(lo, hi, newlines=False):
        toks = [FUZZ_FRAGS[rng.randrange(len(FUZZ_FRAGS))] for _ in range(rng.randint(lo, hi))]
        sep = (lambda: "\n" if rng.random() < 0.15 else " ") if newlines else (lambda: " ")
        out = ""
        for t in toks:
            out += (sep() if out else "") + t
        return out

    return [(i, compose(0, 8), compose(0, 40, newlines=True)) for i in range(300)]


def test_specs_arrow_fuzz_matches_sql_path(spark):
    """Seeded adversarial fuzz: 300 titles/descriptions must produce
    IDENTICAL spec rows through the JVM column pipeline and the Arrow
    row pipeline — coverage beyond the 59 golden cases and the 15 ud2
    snippets."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.specs_arrow import (
        extract_specs_row,
    )

    cases = fuzz_cases()
    df = spark.createDataFrame(cases, "idx int, title string, description string")
    sql_rows = {r["idx"]: r for r in with_specs(df).collect()}
    mismatches = []
    for idx, title, desc in cases:
        got = extract_specs_row(title, desc)
        want = sql_rows[idx]
        for field, g in zip(("cpu", "ram", "gpu", "category", "condition_regex"), got):
            if g != want[field]:
                mismatches.append((idx, field, g, want[field], title[:60]))
    assert not mismatches, "\n".join(map(str, mismatches[:20]))


def test_score_listings_kernel_matches_column_form(spark):
    """score_listings runs UD2 through the Arrow row kernel; fed the
    column-form reference's specs (``specs_ready=True``) it must return
    the same frame: the same columns and types, and rows equal value-
    and bit-exact. The kernel appends the spec columns with the same
    names, order and types as ``with_specs``; a ready input carries them
    ahead of ``price_corrected``, so the scored frames are aligned by
    name. Inputs: the 59 golden texts, the 300-case fuzz corpus,
    degenerate rows (null title/description, NaN / -0.0 / ±Inf / null
    price) and an empty batch."""
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.compare import (
        bit_mismatch,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.functions.specs_arrow import (
        with_specs_arrow,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.risk import (
        score_listings,
    )
    from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.stats import (
        build_market_stats,
    )

    schema = (
        "id string, title string, description string, price double, "
        "api_condition string, is_refurbished boolean, user_id long"
    )
    texts = [(c["title"], c["desc"]) for c in GOLDEN["specs"]]
    texts += [(t, d) for _, t, d in fuzz_cases()]
    api = [None, "new", "as_good_as_new", "good", "has_given_it_all"]
    rows = [
        (f"t{i}", t, d, float(40 + (i * 37) % 1500), api[i % 5], (None, True, False)[i % 3], i % 7)
        for i, (t, d) in enumerate(texts)
    ]
    gaming = "Portatil gaming i7 rtx 3060 16gb"
    desc = "Buen estado funciona perfectamente sin problemas de bateria ni teclado"
    degenerate = [
        (None, "vendo portatil i7 16gb nuevo", 450.0),
        (gaming, None, 450.0),
        (None, None, 450.0),
        (gaming, desc, float("nan")),
        (gaming, desc, -0.0),
        (gaming, "vendo por 500 euros", -0.0),
        (gaming, desc, float("inf")),
        (gaming, desc, float("-inf")),
        (gaming, desc, None),
        (None, "precio 300 euros", None),
    ]
    rows += [(f"x{i}", t, d, p, None, None, 3) for i, (t, d, p) in enumerate(degenerate)]
    listings = spark.createDataFrame(rows, schema)
    # stats from the finite-price rows only, so z-scores stay finite
    prime, comp, _ = build_market_stats(listings.filter(F.col("id").startswith("t")))
    users = spark.createDataFrame(
        [(u, 1 + 150 * u, ["TOP seller"] if u == 5 else [], "individual", int(u == 4))
         for u in range(7)],
        "user_id long, register_days int, badges array<string>, user_type string, scam_reports int",
    )
    reviews = spark.createDataFrame(
        [(3, 95.0)] * 8 + [(6, 40.0)] * 2, "user_id long, scoring double"
    )

    assert with_specs_arrow(listings).dtypes == with_specs(listings).dtypes

    kernel = score_listings(listings, prime, comp, users=users, reviews=reviews)
    column = score_listings(
        with_specs(listings), prime, comp, users=users, reviews=reviews, specs_ready=True
    )
    assert len(kernel.columns) == len(column.columns)
    aligned = kernel.select(*column.columns)
    assert aligned.dtypes == column.dtypes
    got, want = aligned.toPandas(), column.toPandas()
    assert len(got) == len(want) > len(texts) // 2
    assert want["cpu"].notna().any() and want["gpu"].notna().any()
    assert bit_mismatch(got, want) is None, bit_mismatch(got, want)

    # empty batch: the column form of nothing is nothing, so only the
    # kernel runs; its schema is the one pinned above
    empty = score_listings(listings.limit(0), prime, comp, users=users, reviews=reviews)
    assert empty.dtypes == kernel.dtypes
    assert empty.toPandas().empty

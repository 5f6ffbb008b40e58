"""The composed risk engine (SURVEY §3.1): score a listings DataFrame
end-to-end, exactly reproducing the reference semantics
(``poller/poller.py:333-495`` scoring core, ``:580-723`` per-item
pipeline) as ONE lazy DataFrame plan.

Spark shape: the reference's per-item dict lookups and gated HTTP
fetches become broadcast joins against flat dim tables; the hand-coded
enrichment gate (its manual semi-join pushdown) stays a gate COLUMN so
the whole pipeline remains a single plan with no union barrier; every
scoring heuristic is a codegen'd when/otherwise column. UD2 spec
extraction is the one step outside the JVM: a single scalar Arrow UDF
over (title, description) (``functions/specs_arrow.py``), because its
column form is a ~1M-node expression tree that dominates driver-side
planning. Facts never shuffle — the only exchanges are the broadcasts
of the (tiny) stats/user/review dims.

Expected inputs (flat dim-table forms of the reference's JSON):

- listings: id, title, description, price (double), api_condition,
  is_refurbished (bool), user_id
- prime_stats: category, condition, mean, stdev  (A1 output)
- comp_stats: category, condition, comp_type ('cpu'|'gpu'|'ram'),
  comp_name, mean, stdev  (A2 output)
- users: user_id, register_days (int, account age in days),
  badges (array<string>), user_type, scam_reports (int)
- reviews: user_id, scoring (0-100)  → A5 builds (count, avg_stars)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.conditions import map_api_condition
from ..functions.prices import clean_price, corrected_price
from ..functions.specs_arrow import with_specs_arrow

#: Composite-Z weights (poller.py:69-74; README.md:389-397).
WEIGHTS = {"cpu": 0.5, "gpu": 0.3, "ram": 0.1, "category": 0.1}

#: Condition fallback precedence (poller.py:381-391):
#: NEW → LIKE_NEW → USED; LIKE_NEW → USED.
_FB1 = {"NEW": "LIKE_NEW", "LIKE_NEW": "USED"}
_FB2 = {"NEW": "USED"}


def _map_lit(col: Column, mapping: dict[str, str]) -> Column:
    expr = F.lit(None).cast("string")
    for k, v in mapping.items():
        expr = F.when(col == k, v).otherwise(expr)
    return expr


def review_stats(reviews: DataFrame) -> DataFrame:
    """A5/J5 (poller.py:201-215): per-user review count + star-scaled
    average — the per-user HTTP aggregate as one groupBy."""
    return reviews.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("sales"),
        F.round(F.avg("scoring") / 100 * 5, 2).alias("avg_stars"),
    )


def score_listings(
    listings: DataFrame,
    prime_stats: DataFrame,
    comp_stats: DataFrame,
    users: DataFrame | None = None,
    reviews: DataFrame | None = None,
    specs_ready: bool = False,
) -> DataFrame:
    """Full §3.1 scoring pipeline. Returns the input plus:
    price (corrected), price_corrected, category, condition,
    cpu/ram/gpu, fallback_used, composite_z, estimated_value,
    risk_score, risk_factors (array<string>), enriched (gate flag).

    ``specs_ready=True`` skips the UD2 extraction when the input
    already carries cpu/ram/gpu/category/condition_regex (e.g. shared
    with a build_market_stats pass); otherwise the extraction runs
    through ``with_specs_arrow``, the one UD2 row kernel, as one
    ``ArrowEvalPython`` node.

    The user/review dims join on user_id as broadcasts: they are small
    relative to the fact side. A dim that outgrows the broadcast
    threshold on skewed seller keys is ``operators/skew.salted_join``'s
    case.
    """
    # -- X1/X2/F4 price normalization + hidden-price correction --------------
    df = listings.withColumn("__pc", corrected_price(
        clean_price(F.col("price")), F.col("title"), F.col("description")
    ))
    df = (
        df.withColumn("price_corrected", F.col("__pc.corrected"))
        .withColumn("price", F.col("__pc.price"))
        .drop("__pc")
    )
    # F3: no valid price and no correction → drop (poller.py:611-612)
    df = df.filter((F.col("price") >= 1.0) | F.col("price_corrected"))

    # -- UD2 spec extraction + F6 condition precedence -----------------------
    if not specs_ready:
        df = with_specs_arrow(df, title_col="title", desc_col="description")
    # poller.py:626-638: refurbished FORCES LIKE_NEW over the API value;
    # API value beats the regex class; regex is the fallback.
    api_cond = map_api_condition(F.col("api_condition"))
    verified = F.when(
        F.coalesce(F.col("is_refurbished"), F.lit(False)), F.lit("LIKE_NEW")
    ).otherwise(api_cond)
    df = df.withColumns({
        "__verified_cond": verified,
        "condition": F.coalesce(verified, F.col("condition_regex")),
    })

    # -- J1: stats node with fallback precedence -----------------------------
    def node(suffix: str, cond_col: Column):
        dim = prime_stats.select(
            F.col("category").alias("__cat" + suffix),
            F.col("condition").alias("__cond" + suffix),
            F.col("mean").alias("mean" + suffix),
            F.col("stdev").alias("sd" + suffix),
        )
        return dim, [
            df_alias["category"] == F.col("__cat" + suffix),
            cond_col == F.col("__cond" + suffix),
        ]

    df_alias = df
    exact, on_e = node("_e", F.col("condition"))
    fb1, on_1 = node("_f1", _map_lit(F.col("condition"), _FB1))
    fb2, on_2 = node("_f2", _map_lit(F.col("condition"), _FB2))
    df = (
        df.join(F.broadcast(exact), on_e[0] & on_e[1], "left")
        .join(F.broadcast(fb1), on_1[0] & on_1[1], "left")
        .join(F.broadcast(fb2), on_2[0] & on_2[1], "left")
    )
    fallback_used = F.col("mean_e").isNull() & (
        F.col("mean_f1").isNotNull() | F.col("mean_f2").isNotNull()
    )
    node_mean = F.coalesce("mean_e", "mean_f1", "mean_f2")
    node_sd = F.coalesce("sd_e", "sd_f1", "sd_f2")
    resolved_cond = (
        F.when(F.col("mean_e").isNotNull(), F.col("condition"))
        .when(F.col("mean_f1").isNotNull(), _map_lit(F.col("condition"), _FB1))
        .when(F.col("mean_f2").isNotNull(), _map_lit(F.col("condition"), _FB2))
    )
    df = df.withColumns({
        "fallback_used": fallback_used,
        "__node_mean": node_mean,
        "__node_sd": node_sd,
        "__rescond": resolved_cond,
    }).drop("__cat_e", "__cond_e", "__cat_f1", "__cond_f1", "__cat_f2", "__cond_f2",
            "mean_e", "sd_e", "mean_f1", "sd_f1", "mean_f2", "sd_f2")

    # -- J2: component stats under the RESOLVED node (poller.py:305-326) ----
    for comp in ("cpu", "gpu", "ram"):
        dim = comp_stats.filter(F.col("comp_type") == comp).select(
            F.col("category").alias(f"__cc_{comp}"),
            F.col("condition").alias(f"__cd_{comp}"),
            F.col("comp_name").alias(f"__cn_{comp}"),
            F.col("mean").alias(f"__m_{comp}"),
            F.col("stdev").alias(f"__s_{comp}"),
        )
        df = df.join(
            F.broadcast(dim),
            (F.col("category") == F.col(f"__cc_{comp}"))
            & (F.col("__rescond") == F.col(f"__cd_{comp}"))
            & (F.col(comp) == F.col(f"__cn_{comp}")),
            "left",
        ).drop(f"__cc_{comp}", f"__cd_{comp}", f"__cn_{comp}")

    # -- A6: weighted composite Z (poller.py:412-456) ------------------------
    price = F.col("price")

    def _sig(valid: Column, w: float, mean: Column, sd: Column):
        # every term fully inside the guard: 0.0 * NULL is NULL in SQL,
        # so a bare w*expr would poison the sums on missing stats
        return (
            F.when(valid, F.lit(w)).otherwise(0.0),
            F.when(valid, F.lit(w) * (price - mean) / sd).otherwise(0.0),
            F.when(valid, F.lit(w) * mean).otherwise(0.0),
        )

    sigs = []
    for comp in ("cpu", "gpu", "ram"):
        valid = F.col(f"__s_{comp}").isNotNull() & (F.col(f"__s_{comp}") > 0)
        sigs.append(_sig(valid, WEIGHTS[comp], F.col(f"__m_{comp}"), F.col(f"__s_{comp}")))
    cat_valid = F.col("__node_sd").isNotNull() & (F.col("__node_sd") > 0)
    sigs.append(_sig(cat_valid, WEIGHTS["category"], F.col("__node_mean"), F.col("__node_sd")))

    tot_w = sum(s[0] for s in sigs[1:]) + sigs[0][0]
    wz = sum((s[1] for s in sigs[1:]), sigs[0][1])
    wm = sum((s[2] for s in sigs[1:]), sigs[0][2])
    # per-signal Nones collapse to 0 via the when()s; guard the division
    base_z = F.when(tot_w > 0, wz / tot_w).otherwise(F.lit(0.0))
    base_est = F.when(tot_w > 0, wm / tot_w).otherwise(F.lit(0.0))

    # NEW-on-fallback re-score: est ×1.2, re-z vs node stdev default 100
    # (poller.py:448-456)
    rescore = F.col("fallback_used") & (F.col("condition") == "NEW") & (tot_w > 0)
    est_val = F.when(rescore, base_est * 1.2).otherwise(base_est)
    final_z = F.when(
        rescore, (price - est_val) / F.coalesce(F.col("__node_sd"), F.lit(100.0))
    ).otherwise(base_z)

    # -- F4 symbolic-price short-circuit (poller.py:394-409) -----------------
    symbolic = price < 5.0
    # `+ 0.0` normalizes IEEE signed zero: DuckDB's round() can emit -0.0 for
    # tiny negative z while Spark's BigDecimal round emits +0.0 — the driver's
    # bit-level value hash distinguishes them even though -0.0 == 0.0.
    df = df.withColumns({
        "composite_z": F.round(F.when(symbolic, 0.0).otherwise(final_z), 2) + F.lit(0.0),
        "estimated_value": F.round(F.when(symbolic, 0.0).otherwise(est_val), 2) + F.lit(0.0),
        "category": F.when(symbolic, "UNCERTAIN_PRICE").otherwise(F.col("category")),
    })

    # -- X13–X16: base score + factor strings (poller.py:459-495) ------------
    z = F.col("composite_z")
    contact = F.coalesce(F.col("description"), F.lit("")).rlike(r"(?i)(whatsapp|6\d{8})")
    short_desc = (F.length(F.coalesce(F.col("description"), F.lit(""))) < 30) & (price > 200)
    base_rules = [
        (~symbolic & (z < -1.5), 30,
         F.format_string("Statistically Cheap (Z=%.2f) [%s]", z, F.col("condition"))),
        (~symbolic & (z < -2.5), 40, F.lit("EXTREME Price Anomaly")),
        (~symbolic & short_desc, 15, F.lit("Short Desc")),
        (~symbolic & contact, 30, F.lit("External Contact")),
    ]
    base_score = None
    factor_cols = [F.when(symbolic, F.lit("Symbolic Price"))]
    for cond, pts, label in base_rules:
        term = F.when(cond, pts).otherwise(0)
        base_score = term if base_score is None else base_score + term
    base_score = F.least(base_score, F.lit(100))  # poller.py:491 min(score,100)
    factor_cols.extend(F.when(cond, label) for cond, _, label in base_rules)
    factor_cols.append(
        F.when(
            F.col("__verified_cond").isNotNull(),
            F.format_string("Verified Condition: %s", F.col("__verified_cond")),
        )
    )

    # -- F8 gate + J4/J5 seller adjustments (poller.py:653-705) --------------
    gate = ~symbolic & ((z < -1.5) | contact | F.col("price_corrected"))
    df = df.withColumn("enriched", gate)
    adj = F.lit(0)
    scam = F.lit(False)
    if users is not None:
        u = users.select(
            "user_id", "register_days", "badges", "user_type", "scam_reports"
        )
        df = df.join(F.broadcast(u), "user_id", "left")
        rv = review_stats(reviews) if reviews is not None else None
        if rv is not None:
            rv = rv.select("user_id", "sales", "avg_stars")
            df = df.join(F.broadcast(rv), "user_id", "left")
        else:
            df = df.withColumns({
                "sales": F.lit(None).cast("long"),
                "avg_stars": F.lit(None).cast("double"),
            })
        sales = F.coalesce(F.col("sales"), F.lit(0))
        stars = F.coalesce(F.col("avg_stars"), F.lit(0.0))
        is_top = F.exists(
            F.coalesce(F.col("badges"), F.array().cast("array<string>")),
            lambda b: F.upper(b).contains("TOP"),
        ) | (F.col("user_type") == "pro")
        days = F.col("register_days")
        user_rules = [
            (gate & (sales > 5) & (stars >= 4.5), -30,
             F.format_string("Trusted Seller (%d+ reviews)", sales)),
            (gate & is_top, -50, F.lit("TOP SELLER")),
            (gate & days.isNotNull() & (days < 3), 30, F.lit("New User")),
            (gate & days.isNotNull() & (days > 365) & (sales == 0), 20,
             F.lit("Dormant Account")),
        ]
        for cond, pts, label in user_rules:
            adj = adj + F.when(cond, pts).otherwise(0)
            factor_cols.append(F.when(cond, label))
        scam = gate & (F.coalesce(F.col("scam_reports"), F.lit(0)) > 0)
        factor_cols.append(F.when(scam, F.lit("REPORTED SCAMMER")))

    score = F.when(scam, 100).otherwise(base_score + adj)
    score = F.greatest(F.lit(0), F.least(F.lit(100), score))  # poller.py:705
    return (
        df.withColumns({
            "risk_score": score,
            "risk_factors": F.array_compact(F.array(*factor_cols)),
        })
        .drop(
            "__verified_cond", "__rescond", "__node_mean", "__node_sd",
            *[c for comp in ("cpu", "gpu", "ram") for c in (f"__m_{comp}", f"__s_{comp}")],
        )
    )

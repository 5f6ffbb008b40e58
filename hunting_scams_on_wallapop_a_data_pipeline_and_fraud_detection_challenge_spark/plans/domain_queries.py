"""Domain-operator queries completing the SURVEY §2 inventory.

Risk-score assembly (X15/X16), runtime fields (X21/X23), the multi-emit
factor normalizer (X22/UD3), gated enrichment (F8), sort/limit (K1/K6),
stats-table export (A4), the prefix-scan spam truncation (UD1/X9) with
an exact oracle, and the full spec-extraction pipeline (UD2) with a
full DuckDB-SQL replay oracle — the Java negative lookahead in the RAM
pattern is rewritten as erase-then-extract for RE2 (see
_ud2_sql_ram_vals); the reference-golden unit tests in
tests/test_domain_golden.py still pin the Java-only quirks.

printf parity rule: ``format_string``/``printf`` only ever format
values ALREADY rounded via ``_r`` at the same precision — Java
(HALF_UP) and C (half-even) disagree only on exact half-boundaries,
which pre-rounded values cannot hit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.conditions import detect_condition
from ..functions.factors import normalize_risk_factors
from ..functions.textprep import SPAM_INDICATORS, truncate_spam
from ..functions.specs import with_specs
from ..functions.specs_arrow import with_specs_arrow
from .queries import _fan_scan, _r, _t, query

# ---------------------------------------------------------------------------
# X15 + X16 + F4 — additive risk score, clamp, factor-list assembly
# reference: poller/poller.py:459-482,669-705 (points table README.md:370-400)
# ---------------------------------------------------------------------------


@query(
    "x15_risk_assembly",
    oracle="""
    WITH z AS (
        SELECT event_id, user_id, event_type, value,
               round(((value - 250.0) / 100.0) + 1e-6, 2) + 0.0 AS z
        FROM events
    ),
    pts AS (
        SELECT event_id, z,
               (CASE WHEN z < -1.5 THEN 30 ELSE 0 END
                + CASE WHEN z < -2.5 THEN 40 ELSE 0 END
                + CASE WHEN event_type = 'error' THEN 30 ELSE 0 END
                + CASE WHEN value > 400 THEN 15 ELSE 0 END
                + CASE WHEN user_id % 10 = 0 THEN -30 ELSE 0 END) AS raw,
               CASE WHEN z < -1.5
                    THEN printf('Very Low Price vs Market (Z=%.2f)', z) END AS f1,
               CASE WHEN z < -2.5 THEN 'Extremely Low Price' END AS f2,
               CASE WHEN event_type = 'error' THEN 'External Contact' END AS f3,
               CASE WHEN value > 400 THEN 'Suspiciously High Value' END AS f4,
               CASE WHEN user_id % 10 = 0 THEN 'Trusted Seller' END AS f5
        FROM z
    )
    SELECT event_id,
           greatest(0, least(100, raw)) AS risk_score,
           coalesce(array_to_string(
               list_filter([f1, f2, f3, f4, f5], x -> x IS NOT NULL), '; '), '')
               AS risk_factors
    FROM pts
    """,
    ops=("X15", "X16", "X20", "F4", "F7"),
)
def x15_risk_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive rule points → clamp [0,100] → human-readable factor
    list (poller.py:459-482,669-705): each rule is a when/otherwise-0
    column, the factor array is the same conditions emitting formatted
    strings, compacted and joined. Pure row-local codegen — no shuffle
    at any scale."""
    events = _t(spark, sf_dir, "events")
    z = _r((F.col("value") - 250.0) / 100.0, 2)
    df = events.select("event_id", "user_id", "event_type", "value", z.alias("z"))

    rules = [
        (F.col("z") < -1.5, 30, F.format_string("Very Low Price vs Market (Z=%.2f)", F.col("z"))),
        (F.col("z") < -2.5, 40, F.lit("Extremely Low Price")),
        (F.col("event_type") == "error", 30, F.lit("External Contact")),
        (F.col("value") > 400, 15, F.lit("Suspiciously High Value")),
        (F.col("user_id") % 10 == 0, -30, F.lit("Trusted Seller")),
    ]
    raw = None
    factors = []
    for cond, pts, label in rules:
        term = F.when(cond, pts).otherwise(0)
        raw = term if raw is None else raw + term
        factors.append(F.when(cond, label))
    return df.select(
        "event_id",
        F.greatest(F.lit(0), F.least(F.lit(100), raw)).alias("risk_score"),
        F.concat_ws("; ", F.array_compact(F.array(*factors))).alias("risk_factors"),
    )


# ---------------------------------------------------------------------------
# X22 / UD3 — multi-emit factor normalization (Painless emit() ≅ explode)
# reference: kibana/dashboard_export.ndjson:1 (runtime field, ~80 lines)
# ---------------------------------------------------------------------------


@query(
    "x22_factor_normalize",
    oracle="""
    WITH emitted AS (
        SELECT unnest(
            CASE WHEN event_type IN ('click', 'view') THEN []::VARCHAR[]
                 WHEN event_type = 'error' THEN ['Error Event']
                 WHEN event_type = 'purchase' THEN
                     ['Purchase',
                      'amount:' || CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR)]
                 ELSE ['raw:' || event_type] END) AS factor
        FROM events
    )
    SELECT factor, count(*) AS n FROM emitted GROUP BY factor
    """,
    ops=("X22", "UD3"),
)
def x22_factor_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-emit normalizer: positives are dropped (emit nothing),
    known patterns map to canonical labels, one branch emits MULTIPLE
    values per row, unknowns fall through as raw — the Painless
    runtime-field shape as explode(when-chain array)."""
    events = _t(spark, sf_dir, "events")
    arr = (
        F.when(F.col("event_type").isin("click", "view"), F.array().cast("array<string>"))
        .when(F.col("event_type") == "error", F.array(F.lit("Error Event")))
        .when(
            F.col("event_type") == "purchase",
            F.array(
                F.lit("Purchase"),
                F.concat(
                    F.lit("amount:"),
                    F.floor(F.col("value") / 100).cast("bigint").cast("string"),
                ),
            ),
        )
        .otherwise(F.array(F.concat(F.lit("raw:"), F.col("event_type"))))
    )
    return (
        events.select(F.explode(arr).alias("factor"))
        .groupBy("factor")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# X22 full fidelity — the Painless risk_factor_normalized runtime field
# reference: kibana/dashboard_export.ndjson:1 (~80-line script)
# ---------------------------------------------------------------------------


@query(
    "x22_painless_normalizer",
    oracle="""
    WITH synth AS (
        SELECT list_filter([
            CASE event_type
                 WHEN 'click' THEN 'Trusted Seller (12+ reviews)'
                 WHEN 'view' THEN 'Statistically Cheap (Z=-2.10) [USED]'
                 WHEN 'error' THEN 'External Contact'
                 WHEN 'purchase' THEN
                     concat('Suspicious keywords found: [', chr(39), 'estafa',
                            chr(39), ', ', chr(39), 'urgente', chr(39), ']')
                 ELSE 'Weird Unmapped Factor' END,
            CASE WHEN value > 400 THEN 'EXTREME Price Anomaly' END,
            CASE WHEN user_id % 11 = 0 THEN 'Dormant Account' END
        ], x -> x IS NOT NULL) AS factors
        FROM events
    ),
    per AS (
        SELECT unnest(factors) AS f FROM synth
    ),
    emitted AS (
        SELECT unnest(
            CASE
            WHEN contains(f, 'Trusted Seller') OR contains(f, 'TOP SELLER')
                 THEN []::VARCHAR[]
            WHEN contains(f, 'Price is <40%') THEN ['Critical Price Drop (<40% val.)']
            WHEN contains(f, 'Statistically Cheap') THEN ['Statistically Cheap (Z-Score)']
            WHEN contains(f, 'EXTREME Price Anomaly') THEN ['EXTREME Price Anomaly']
            WHEN contains(f, 'External Contact') THEN ['External Contact Attempt']
            WHEN contains(f, 'Very Short Description') THEN ['Low Quality Desc.']
            WHEN contains(f, 'Low Image Count') THEN ['Missing Photos (0-1)']
            WHEN contains(f, 'Aggressive Title') THEN ['Aggressive Title (CAPS)']
            WHEN contains(f, 'Risky Payment') THEN ['Risky Payment Method']
            WHEN contains(f, 'User registered') OR contains(f, 'New User')
                 THEN ['New User (<48h)']
            WHEN contains(f, 'User has Scam Reports') THEN ['User Reported as Scam']
            WHEN contains(f, 'No Reviews') OR contains(f, 'Dormant Account')
                 THEN ['No Reputation / Dormant']
            WHEN contains(f, 'Suspicious keywords') OR contains(f, 'Keyword found')
                 THEN list_transform(
                     list_filter(
                         list_transform(
                             string_split(
                                 regexp_replace(
                                     CASE WHEN regexp_matches(f, '\\[.*\\]')
                                          THEN regexp_extract(f, '\\[(.*)\\]', 1)
                                          WHEN contains(f, ':')
                                          THEN regexp_replace(f, '^[^:]*:', '')
                                          ELSE f END,
                                     concat('[', chr(39), '"', ']'), '', 'g'),
                                 ','),
                             k -> trim(k)),
                         k -> length(k) > 0),
                     k -> concat('"', k, '"'))
            ELSE [f] END) AS factor
        FROM per
    )
    SELECT factor, count(*) AS n FROM emitted GROUP BY factor
    """,
    ops=("X22", "UD3"),
)
def x22_painless_normalizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful X22: synthesize reference-format factor strings (one
    per Painless branch class, incl. the quoted-keyword-list payload),
    normalize with functions/factors.py — positives dropped, canonical
    labels, keyword multi-emit, raw fallback — explode and count."""
    events = _t(spark, sf_dir, "events")
    synth = F.array_compact(
        F.array(
            F.when(F.col("event_type") == "click", F.lit("Trusted Seller (12+ reviews)"))
            .when(F.col("event_type") == "view", F.lit("Statistically Cheap (Z=-2.10) [USED]"))
            .when(F.col("event_type") == "error", F.lit("External Contact"))
            .when(
                F.col("event_type") == "purchase",
                F.lit("Suspicious keywords found: ['estafa', 'urgente']"),
            )
            .otherwise(F.lit("Weird Unmapped Factor")),
            F.when(F.col("value") > 400, F.lit("EXTREME Price Anomaly")),
            F.when(F.col("user_id") % 11 == 0, F.lit("Dormant Account")),
        )
    )
    return (
        events.select(
            F.explode(normalize_risk_factors(synth)).alias("factor")
        )
        .groupBy("factor")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# X21 + X23 + X17 — runtime bool (day-difference) + URL templating
# reference: kibana/dashboard_export.ndjson:1 (Painless runtime fields,
# fieldFormatMap); elastalert/rules/high_risk.yaml:38-42
# ---------------------------------------------------------------------------


@query(
    "x21_runtime_fields",
    oracle="""
    SELECT coalesce(date_diff('day', o_orderdate, l_shipdate) > 1, FALSE)
               AS shipped_after_one_day,
           count(*) AS n,
           min('https://es.wallapop.com/item/'
               || lower(o_orderstatus) || '-' || CAST(o_orderkey AS VARCHAR))
               AS sample_url
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    ops=("X21", "X23", "X17"),
)
def x21_runtime_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe derived boolean (modified_after_one_day ≅ shipped >1
    day after order) plus the URL-template column — query-time computed
    columns, zero-cost until referenced (Catalyst prunes them)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    flag = F.coalesce(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 1, F.lit(False)
    )
    url = F.concat(
        F.lit("https://es.wallapop.com/item/"),
        F.lower(F.col("o_orderstatus")),
        F.lit("-"),
        F.col("o_orderkey").cast("string"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(flag.alias("shipped_after_one_day"), url.alias("url"))
        .groupBy("shipped_after_one_day")
        .agg(F.count(F.lit(1)).alias("n"), F.min("url").alias("sample_url"))
    )


# ---------------------------------------------------------------------------
# F8 — gated enrichment: enrich only suspicious rows, pass others through
# reference: poller/poller.py:653-663 (manual semi-join pushdown)
# ---------------------------------------------------------------------------


@query(
    "f08_gated_enrichment",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           (l.l_extendedprice > 90000 OR l.l_returnflag = 'R') AS gated,
           s.s_name
    FROM lineitem l
    LEFT JOIN supplier s
      ON (l.l_extendedprice > 90000 OR l.l_returnflag = 'R')
     AND l.l_suppkey = s.s_suppkey
    """,
    ops=("F8", "F3", "F9"),
)
def f08_gated_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch expensive enrichment only for rows passing the gate; cheap
    rows pass through with nulls (poller.py:653-663). Spark shape:
    filter → broadcast join → union — the gate filter shrinks the join
    input BEFORE the exchange, exactly the reference's manual semi-join
    pushdown, and Catalyst pushes the gate into the scan of the hot
    branch."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice", "l_returnflag"
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    gate = (F.col("l_extendedprice") > 90000) | (F.col("l_returnflag") == "R")

    hot = (
        li.filter(gate)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey, "left")
        .select(
            "l_orderkey", "l_linenumber", F.lit(True).alias("gated"), "s_name"
        )
    )
    cold = li.filter(~gate).select(
        "l_orderkey",
        "l_linenumber",
        F.lit(False).alias("gated"),
        F.lit(None).cast("string").alias("s_name"),
    )
    return hot.unionByName(cold)


# ---------------------------------------------------------------------------
# K1 + K6 — ordered scan with cap (order_by=newest, item limit)
# reference: poller/poller.py:533,554,59; poller/analist_poller.py:289,310
# ---------------------------------------------------------------------------


@query(
    "k01_newest_first_cap",
    oracle="""
    SELECT event_id, ts, event_type, round((value) + 1e-6, 2) AS value
    FROM events
    ORDER BY ts DESC, event_id ASC
    LIMIT 100
    """,
    ops=("K1", "K6"),
)
def k01_newest_first_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_by=newest + item cap → TakeOrderedAndProject (no global
    sort materialization: each partition keeps its local top-100, the
    driver merges — O(n) scan, O(k) memory at any scale)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.orderBy(F.desc("ts"), F.asc("event_id"))
        .select("event_id", "ts", "event_type", _r(F.col("value"), 2).alias("value"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# A4 — stats-table serialization (market_stats.json writer)
# reference: poller/regex_analyzer.py:1018-1022
# ---------------------------------------------------------------------------


@query(
    "a04_stats_export",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           printf('{"mean":%.2f,"median":%.2f,"stdev":%.2f,"count":%d}',
                  round((avg(l_extendedprice)) + 1e-6, 2),
                  round((median(l_extendedprice)) + 1e-6, 2),
                  round((stddev_samp(l_extendedprice)) + 1e-6, 2),
                  count(*)) AS stats_json
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    HAVING count(*) >= 2
    """,
    ops=("A4", "X20"),
)
def a04_stats_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The market_stats.json serialization: one JSON stats blob per
    group (regex_analyzer.py:1018-1022). Values are pre-rounded before
    formatting so both engines print identical strings; the relational
    dim table (a01) remains the preferred consumption form."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r(F.avg("l_extendedprice"), 2).alias("mean"),
            _r(F.median("l_extendedprice"), 2).alias("median"),
            _r(F.stddev_samp("l_extendedprice"), 2).alias("stdev"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.format_string(
                '{"mean":%.2f,"median":%.2f,"stdev":%.2f,"count":%d}',
                F.col("mean"),
                F.col("median"),
                F.col("stdev"),
                F.col("n"),
            ).alias("stats_json"),
        )
    )


# ---------------------------------------------------------------------------
# UD1 / X9 — prefix-scan spam truncation, exact oracle
# reference: poller/regex_analyzer.py:248-289
# ---------------------------------------------------------------------------


def _spam_truncate_sql() -> str:
    hits = " + ".join(
        f"CASE WHEN contains(lower(l), '{ind}') THEN 1 ELSE 0 END"
        for ind in SPAM_INDICATORS
    )
    return f"""
    WITH synth AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || chr(10) || 'rtx gtx amd intel ryzen i7'
                         || chr(10) || 'hidden tail line'
                    ELSE text END AS body
        FROM documents
    ),
    l AS (
        SELECT doc_id, body, string_split(body, chr(10)) AS lines FROM synth
    ),
    f AS (
        SELECT doc_id, body, lines,
               coalesce(list_position(
                   list_transform(lines, l -> ({hits}) > 3), TRUE), 0) AS fs
        FROM l
    )
    SELECT doc_id,
           fs > 0 AS truncated,
           length(CASE WHEN fs > 0
                       THEN array_to_string(list_slice(lines, 1, fs - 1), chr(10))
                       ELSE body END) AS kept_chars
    FROM f
    """


@query("ud1_spam_truncate", oracle=_spam_truncate_sql(), ops=("UD1", "X9"))
def ud1_spam_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependent prefix-scan truncation (regex_analyzer.py:248-289)
    verified end-to-end: a spam line is injected into every third doc,
    and both engines must cut at the same line. Native split/transform/
    array_position/slice — the UD1 candidate stays out of Python."""
    docs = _t(spark, sf_dir, "documents")
    body = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit("\nrtx gtx amd intel ryzen i7\nhidden tail line"),
        ),
    ).otherwise(F.col("text"))
    synth = docs.select("doc_id", body.alias("body"))
    kept = truncate_spam(F.col("body"))
    truncated = F.length("body") != F.length(kept)
    return synth.select(
        "doc_id",
        truncated.alias("truncated"),
        F.length(kept).alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# X2 (structured path) — hidden-price extraction, first-match semantics
# reference: poller/regex_analyzer.py:69-76,174-204
# ---------------------------------------------------------------------------


@query(
    "x02_hidden_price_structured",
    oracle="""
    WITH synth AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0
                    THEN 'vendo por ' || CAST(50 + doc_id % 900 AS VARCHAR)
                         || ' euros ' || text
                    WHEN doc_id % 4 = 1
                    THEN 'precio: ' || CAST(doc_id % 15 AS VARCHAR) || ' eur ' || text
                    ELSE text END AS body
        FROM documents
    ),
    ex AS (
        SELECT doc_id,
               list_filter(
                   list_transform(
                       regexp_extract_all(lower(body),
                           '(?:precio|valor|vende|vendo|pido|oferta)[:\\s]*(?:por)?\\s*(\\d{2,4})(?:[\\.,]\\d{2})?\\s*(?:€|eur|euros)',
                           1),
                       x -> CAST(x AS DOUBLE)),
                   v -> v > 20) AS vals
        FROM synth
    )
    SELECT doc_id, vals[1] AS hidden_price
    FROM ex WHERE len(vals) > 0
    """,
    ops=("X2",),
)
def x02_hidden_price_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured hidden-price pattern with FIRST-match-over-20
    semantics (regex_analyzer.py:174-204) — a deterministic price
    phrase is injected into some docs ('vendo por N euros' valid,
    'precio: N eur' below the 20 threshold for most) so both the match
    and the threshold branches execute."""
    docs = _t(spark, sf_dir, "documents")
    body = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("vendo por "),
                (50 + F.col("doc_id") % 900).cast("string"),
                F.lit(" euros "),
                F.col("text"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("precio: "),
                (F.col("doc_id") % 15).cast("string"),
                F.lit(" eur "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
    )
    pat = (
        r"(?:precio|valor|vende|vendo|pido|oferta)[:\s]*(?:por)?\s*"
        r"(\d{2,4})(?:[\.,]\d{2})?\s*(?:€|eur|euros)"
    )
    vals = F.filter(
        F.transform(
            F.regexp_extract_all(F.lower(body), F.lit(pat), 1),
            lambda x: x.cast("double"),
        ),
        lambda v: v > 20,
    )
    return (
        docs.select("doc_id", F.get(vals, 0).alias("hidden_price"))
        .filter(F.col("hidden_price").isNotNull())
    )


# ---------------------------------------------------------------------------
# F9 — nested/dynamic field projection (JSON props access, null-safe)
# reference: poller/poller.py:626-638 (.get() chains over dynamic fields)
# ---------------------------------------------------------------------------


@query(
    "f09_nested_json_projection",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
           count(*) AS n,
           round((avg(CAST(json_extract_string(props, '$.k') AS INT))) + 1e-6, 2)
               AS avg_k
    FROM events
    GROUP BY 1
    """,
    ops=("F9",),
)
def f09_nested_json_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-field access: the reference's .get() chains over
    semi-structured docs become null-safe JSON path extraction
    (the ES dynamic-template open world). get_json_object stays
    codegen'd; for hot paths, from_json with an explicit schema
    lets Catalyst prune into the parse."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.avg("k"), 2).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# F6 — condition normalization with fallback precedence API > flag > regex
# reference: poller/poller.py:248-281,630-634; regex_analyzer.py:320-369
# ---------------------------------------------------------------------------


@query(
    "f06_condition_normalize",
    oracle="""
    WITH src AS (
        SELECT event_id,
               CASE event_type WHEN 'click' THEN 'new'
                               WHEN 'view' THEN 'as_good_as_new'
                               WHEN 'error' THEN 'has_given_it_all'
                               WHEN 'signup' THEN NULL
                               ELSE 'good' END AS api_condition,
               user_id % 7 = 0 AS is_refurbished,
               CASE WHEN value > 300 THEN 'NEW' ELSE 'USED' END AS text_condition
        FROM events
    )
    SELECT coalesce(
               CASE WHEN api_condition IS NOT NULL THEN
                   CASE lower(api_condition)
                        WHEN 'new' THEN 'NEW'
                        WHEN 'as_good_as_new' THEN 'LIKE_NEW'
                        WHEN 'has_given_it_all' THEN 'BROKEN'
                        ELSE 'USED' END END,
               CASE WHEN coalesce(is_refurbished, FALSE) THEN 'LIKE_NEW' END,
               text_condition) AS condition,
           count(*) AS n
    FROM src
    GROUP BY 1
    """,
    ops=("F6", "X3"),
)
def f06_condition_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition normalization (API term → canonical class) under the
    fallback precedence API > refurbished-flag > regex text class
    (poller.py:248-281; regex_analyzer.py:320-369), driven by columns
    synthesized deterministically from events so every branch fires."""
    events = _t(spark, sf_dir, "events")
    api = (
        F.when(F.col("event_type") == "click", "new")
        .when(F.col("event_type") == "view", "as_good_as_new")
        .when(F.col("event_type") == "error", "has_given_it_all")
        .when(F.col("event_type") == "signup", F.lit(None).cast("string"))
        .otherwise("good")
    )
    refurb = F.col("user_id") % 7 == 0
    text_cond = F.when(F.col("value") > 300, "NEW").otherwise("USED")
    return (
        events.select(
            detect_condition(api, refurb, text_cond).alias("condition")
        )
        .groupBy("condition")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# K4 + K5 — best-candidate selection: max valid RAM / lexicographic max model
# reference: poller/regex_analyzer.py:549-563,466-470,509-513
# ---------------------------------------------------------------------------

_VALID_RAM = [4, 6, 8, 12, 16, 32, 64]


@query(
    "k45_best_component",
    oracle=f"""
    SELECT doc_id,
           list_max(list_filter(
               list_transform(regexp_extract_all(text, '(\\d{{1,3}})', 1),
                              x -> CAST(x AS INTEGER)),
               x -> x IN ({", ".join(str(v) for v in _VALID_RAM)}) AND x <= 64))
               AS best_ram,
           list_max(regexp_extract_all(lower(text), '([a-z]+[0-9]{{2,4}})', 1))
               AS best_model
    FROM documents
    """,
    ops=("K4", "K5"),
)
def k45_best_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-candidate selection over regex extraction arrays: K4 = max
    whitelisted RAM value under the category cap
    (regex_analyzer.py:549-563); K5 = lexicographic max of the deduped
    model set (sorted(models, reverse=True)[0],
    regex_analyzer.py:466-470). Pure array_max over filtered
    regexp_extract_all — no UDF, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    nums = F.transform(
        F.regexp_extract_all(F.col("text"), F.lit(r"(\d{1,3})"), 1),
        lambda x: x.cast("int"),
    )
    valid = F.array(*[F.lit(v) for v in _VALID_RAM])
    best_ram = F.array_max(
        F.filter(nums, lambda x: F.array_contains(valid, x) & (x <= 64))
    )
    models = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"([a-z]+[0-9]{2,4})"), 1)
    return docs.select(
        "doc_id",
        best_ram.alias("best_ram"),
        F.array_max(models).alias("best_model"),
    )


# ---------------------------------------------------------------------------
# X18 + X19 — badge/type scan over arrays with nulls; geo-point struct
# reference: poller/poller.py:672-673,712-714
# ---------------------------------------------------------------------------


@query(
    "x18_badge_scan",
    oracle="""
    WITH src AS (
        SELECT event_id,
               [ 'seller', event_type,
                 CASE WHEN user_id % 5 = 0 THEN 'TOP10' END ] AS badges,
               CASE WHEN user_id % 3 = 0 THEN 'pro' ELSE 'individual' END AS type
        FROM events
    )
    SELECT (len(list_filter(badges,
                b -> b IS NOT NULL AND contains(upper(b), 'TOP'))) > 0
            OR type = 'pro') AS trusted,
           count(*) AS n
    FROM src
    GROUP BY 1
    """,
    ops=("X18",),
)
def x18_badge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Badge/type trust scan ('TOP' in str(badges).upper() or type ==
    'pro', poller.py:672-673): exists() over a null-holding array +
    equality, as one codegen'd predicate."""
    events = _t(spark, sf_dir, "events")
    badges = F.array(
        F.lit("seller"),
        F.col("event_type"),
        F.when(F.col("user_id") % 5 == 0, "TOP10"),
    )
    typ = F.when(F.col("user_id") % 3 == 0, "pro").otherwise("individual")
    trusted = (
        F.exists(badges, lambda b: b.isNotNull() & F.upper(b).contains("TOP"))
        | (typ == "pro")
    )
    return events.select(trusted.alias("trusted")).groupBy("trusted").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "x19_geo_struct",
    oracle="""
    SELECT event_id,
           round((value % 90) + 1e-6, 2)                    AS lat,
           round((CAST(user_id % 360 AS DOUBLE) - 180) + 1e-6, 2) AS lon
    FROM events
    """,
    ops=("X19",),
)
def x19_geo_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-point struct construction (poller.py:712-714): build the
    nested {geo: {lat, lon}} struct, then project the fields back out
    (struct round-trip; flat scalars keep the oracle engine-neutral)."""
    events = _t(spark, sf_dir, "events")
    geo = F.struct(
        _r(F.col("value") % 90, 2).alias("lat"),
        _r((F.col("user_id") % 360).cast("double") - 180, 2).alias("lon"),
    )
    return events.select("event_id", geo.alias("geo")).select(
        "event_id", F.col("geo.lat").alias("lat"), F.col("geo.lon").alias("lon")
    )


# ---------------------------------------------------------------------------
# UD2 — full spec-extraction pipeline with an exact DuckDB oracle
# reference: poller/regex_analyzer.py:724-786
# ---------------------------------------------------------------------------

#: Listing-text variants injected over the (spec-inert) document corpus —
#: each exercises a distinct branch of the UD2 decision tree: the corei5
#: drop quirk, Apple-M conflict resolution, the storage-mention RAM
#: lookahead, category caps with full-text re-extraction, the
#: CHROMEBOOK+i7 override, GPU brand inference, sanitize + spam-truncate.
_UD2_SNIPS = [
    "snapdragon microsoft sq1 8gb pantalla rota",
    "i7 16gb rtx 3060",
    "core i5 8gb",
    "amd ryzen 5 16 gb",
    "macbook air m2 8gb",
    "apple m1 pro 32gb como nuevo",
    "chromebook celeron 4gb",
    "surface intel i5 8gb",
    "thinkpad xeon 64gb ssd 16gb",
    "gaming msi rtx 4070 32gb",
    "portatil barato para piezas roto",
    "xps ultrabook m.2 ssd 512gb 16gb nuevo",
    "chromebook i7 16gb celeron barato",
    "microsoft surface 64gb y 16gb",
    "chromebook chrome 32gb",
]
_UD2_SPAM_LINE = "ganga rtx gtx amd intel ryzen i7"

_UD2_RAM_WHITELIST = "[4,6,8,12,16,20,24,32,40,48,64]"
_UD2_STORAGE = "ssd|hdd|emmc|rom|almacenamiento|storage|disco|nvme|flash|interno|interna"


def _ud2_sql_sanitize(x: str) -> str:
    """functions/textprep.sanitize_hardware_ambiguities in DuckDB SQL."""
    return (
        f"regexp_replace(regexp_replace({x}, "
        r"'(?i)\b(ssd|disco|disk|drive|almacenamiento)\s+m\.?2\b', '\1_NVME', 'g'), "
        r"'(?i)\bm\.?2\s+(ssd|nvme|sata)\b', 'NVME_\1', 'g')"
    )


def _ud2_sql_ram_vals(x: str) -> str:
    """functions/specs.extract_ram candidates in DuckDB SQL.

    The Java pattern's negative lookahead (reject "<n>gb" followed by a
    storage word) is not RE2-expressible; the RE2-equivalent rewrite is
    to ERASE every "<n>gb <storage>" mention first, then extract with
    the plain pattern — a match fails the lookahead iff the erase
    removes it, so the candidate sets are identical."""
    erased = (
        f"regexp_replace({x}, "
        r"'(?i)\b\d+\s*(?:gb|gigas?)\b\s*(?:[.,\-/]\s*)?(?:de\s+)?"
        f"(?:{_UD2_STORAGE})', ' ', 'g')"
    )
    return (
        f"list_filter(list_transform(regexp_extract_all({erased}, "
        r"'(?i)\b(\d+)\s*(?:gb|gigas?)\b', 1), v -> CAST(v AS INT)), "
        f"v -> list_contains({_UD2_RAM_WHITELIST}, v))"
    )


def _ud2_sql() -> str:
    """The full with_specs pipeline replayed in DuckDB SQL: stages as
    CTEs over an unpivoted (doc_id, source, text) relation so each regex
    family runs once per source, mirroring functions/specs.py stage for
    stage (pattern constants from regex_analyzer.py:55-144)."""
    n = len(_UD2_SNIPS)
    snip_list = "[" + ", ".join("'" + s + "'" for s in _UD2_SNIPS) + "]"
    hits = " + ".join(
        f"(CASE WHEN contains(lower(l), '{w}') THEN 1 ELSE 0 END)"
        for w in SPAM_INDICATORS
    )
    fam_m = r"'(?i)\b(m[123])\s*(pro|max|ultra)?\b'"
    fam1 = (
        r"list_filter(list_transform(regexp_extract_all(xl, '(?i)\b(?:core\s*-?)?i[3579]\b', 0), "
        "m -> upper(replace(replace(m, ' ', ''), '-', ''))), m -> regexp_matches(m, '^I[0-9]'))"
    )
    fam2 = (
        r"list_transform(regexp_extract_all(xl, '(?i)\b(ryzen)\s*-?([3579])\b', 0), "
        "m -> 'RYZEN' || regexp_replace(upper(m), '[^0-9]', '', 'g'))"
    )
    fam3 = (
        f"list_transform(range(1, len(regexp_extract_all(xl, {fam_m}, 1)) + 1), "
        f"i -> upper(CASE WHEN regexp_extract_all(xl, {fam_m}, 2)[i] <> '' "
        f"THEN regexp_extract_all(xl, {fam_m}, 1)[i] || ' ' || regexp_extract_all(xl, {fam_m}, 2)[i] "
        f"ELSE regexp_extract_all(xl, {fam_m}, 1)[i] END))"
    )
    fam4 = r"list_transform(regexp_extract_all(xl, '(?i)\b(celeron|pentium|atom|xeon)\b', 0), m -> upper(m))"
    fam5 = r"list_transform(regexp_extract_all(xl, '(?i)\b(snapdragon|sq[123])\b', 0), m -> upper(m))"
    brand0 = r"nullif(upper(regexp_extract(xl, '(?i)\b(intel|amd|apple|qualcomm|microsoft)\b', 1)), '')"
    models0 = f"list_distinct({fam1} || {fam2} || {fam3} || {fam4} || {fam5})"
    gpu_models = (
        "list_distinct(list_transform(regexp_extract_all(xl, "
        r"'(?i)\b((?:rtx|gtx|rx)\s*-?\d{3,4}[a-z]*)\b'"
        ", 1), m -> upper(m)))"
    )
    gpu_brand0 = r"nullif(upper(regexp_extract(xl, '(?i)\b(nvidia|amd|radeon|geforce)\b', 1)), '')"
    ram_vals = _ud2_sql_ram_vals("xl")
    ram_vals_ft = _ud2_sql_ram_vals("ft")
    cond_broken = (
        r"\b(roto|averiado|fallo|bloqueado|icloud|bios|pantalla rota|no enciende|"
        r"no funciona|para piezas|despiece|repuesto|tarada|golpe|mojado|water|"
        r"broken|parts|read|leer|reparar)\b"
    )
    cond_new = r"\b(nuevo|precintado|sin abrir|estrenar|sealed|new|garantia|factura)\b"
    cond_like = (
        r"\b(como nuevo|impecable|perfecto estado|reacondicionado|refurbished|"
        r"poquisimo uso|sin uso)\b"
    )
    dc0 = (
        "coalesce(array_to_string(CASE WHEN fs IS NOT NULL THEN lines[1:fs-1] "
        "ELSE lines END, chr(10)), '')"
    )
    return f"""
    WITH inj AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN 'Portatil ' || ({snip_list})[CAST(doc_id % {n} AS INT) + 1]
                    ELSE 'Portatil venta' END AS title,
               ({snip_list})[CAST(doc_id % {n} AS INT) + 1] || chr(10) ||
               (CASE WHEN doc_id % 3 = 0 THEN '{_UD2_SPAM_LINE}' || chr(10) ELSE '' END)
               || text AS description
        FROM documents
    ),
    tr0 AS (
        SELECT doc_id, title,
               string_split(description, chr(10)) AS lines,
               list_position(list_transform(string_split(description, chr(10)),
                                            l -> ({hits}) > 3), true) AS fs
        FROM inj
    ),
    cl AS (
        SELECT doc_id,
               {_ud2_sql_sanitize('title')} AS tc,
               {_ud2_sql_sanitize(dc0)} AS dc
        FROM tr0
    ),
    cl2 AS (
        SELECT doc_id, tc, dc,
               lower(concat_ws(' ', tc, dc)) AS ft,
               lower(tc) AS tl,
               substring(dc, 1, 400) AS dh
        FROM cl
    ),
    src AS (
        SELECT doc_id, 't' AS s, lower(tc) AS xl FROM cl2
        UNION ALL
        SELECT doc_id, 'd', lower(dh) FROM cl2
    ),
    ex1 AS (
        SELECT doc_id, s,
               {brand0} AS brand0,
               {models0} AS models0,
               {gpu_brand0} AS gbrand0,
               {gpu_models} AS gmodels,
               list_max({ram_vals}) AS ram_m
        FROM src
    ),
    ex2 AS (
        SELECT *,
               len(list_filter(models0, m -> regexp_matches(m, '^M[123]'))) > 0 AS is_apple0,
               coalesce(brand0 IN ('INTEL','AMD')
                        OR len(list_filter(models0,
                              m -> regexp_matches(m, '^I[0-9]+$') OR contains(m, 'RYZEN'))) > 0,
                        false) AS has_pc
        FROM ex1
    ),
    ex3 AS (
        SELECT *,
               CASE WHEN has_pc AND is_apple0
                    THEN list_filter(models0, m -> NOT regexp_matches(m, '^M[123]'))
                    ELSE models0 END AS models1,
               (is_apple0 AND NOT has_pc) AS is_apple1
        FROM ex2
    ),
    ex4 AS (
        SELECT *,
               list_max(CASE WHEN is_apple1
                             THEN list_filter(models1, m -> regexp_matches(m, '^M[123]'))
                             ELSE models1 END) AS best,
               CASE WHEN is_apple1 THEN 'APPLE' ELSE brand0 END AS brand1
        FROM ex3
    ),
    ex5 AS (
        SELECT *,
               CASE WHEN is_apple1 OR contains(best,'M1') OR contains(best,'M2')
                         OR contains(best,'M3') THEN 'APPLE'
                    WHEN contains(best,'RYZEN') THEN 'AMD'
                    WHEN regexp_matches(best, '^I[0-9]') THEN 'INTEL'
                    WHEN regexp_matches(best, 'CELERON|PENTIUM|ATOM|XEON') THEN 'INTEL'
                    WHEN regexp_matches(best, 'SNAPDRAGON|SQ1|SQ2|SQ3') THEN 'QUALCOMM'
                    ELSE brand1 END AS brand2,
               CASE WHEN regexp_matches(best, 'RYZEN[0-9]')
                    THEN regexp_replace(best, 'RYZEN', 'RYZEN ', 'g') ELSE best END AS best2,
               list_max(gmodels) AS gbest
        FROM ex4
    ),
    ex6 AS (
        SELECT doc_id, s,
               CASE WHEN best IS NOT NULL THEN
                 (CASE WHEN brand2 = 'APPLE' AND NOT starts_with(best2, 'APPLE')
                       THEN 'APPLE ' || best2
                       WHEN brand2 IS NOT NULL THEN trim(concat_ws(' ', brand2, best2))
                       ELSE best2 END)
               END AS cpu,
               ram_m, gbest,
               CASE WHEN NOT contains(gbest, ' ')
                    THEN regexp_replace(gbest, '^([A-Z]+)(\\d.*)$', '\\1 \\2')
                    ELSE gbest END AS gbest2,
               CASE WHEN gbrand0 = 'GEFORCE' THEN 'NVIDIA' ELSE gbrand0 END AS gbrand1
        FROM ex5
    ),
    ex7 AS (
        SELECT doc_id, s, cpu, ram_m, gbest, gbest2,
               CASE WHEN contains(gbest2,'RTX') OR contains(gbest2,'GTX')
                         OR contains(gbest2,'MX') OR contains(gbest2,'QUADRO') THEN 'NVIDIA'
                    WHEN contains(gbest2,'RX') OR contains(gbest2,'RADEON')
                         OR contains(gbest2,'FIREPRO') THEN 'AMD'
                    ELSE gbrand1 END AS gbrand2
        FROM ex6
    ),
    ex8 AS (
        SELECT doc_id, s, cpu, ram_m,
               CASE WHEN gbest IS NOT NULL THEN
                 (CASE WHEN gbrand2 IS NOT NULL
                       THEN trim(concat_ws(' ', gbrand2,
                                           trim(regexp_replace(gbest2, gbrand2, '', 'g'))))
                       ELSE gbest2 END)
               END AS gpu
        FROM ex7
    ),
    piv AS (
        SELECT doc_id,
               max(CASE WHEN s = 't' THEN cpu END) AS cpu_t,
               max(CASE WHEN s = 'd' THEN cpu END) AS cpu_d,
               max(CASE WHEN s = 't' THEN ram_m END) AS ram_t,
               max(CASE WHEN s = 'd' THEN ram_m END) AS ram_d,
               max(CASE WHEN s = 't' THEN gpu END) AS gpu_t,
               max(CASE WHEN s = 'd' THEN gpu END) AS gpu_d
        FROM ex8 GROUP BY doc_id
    ),
    m AS (
        SELECT c.doc_id, c.ft, c.tl,
               coalesce(p.cpu_t, p.cpu_d) AS cpu0,
               CASE WHEN coalesce(p.ram_t, p.ram_d) IS NOT NULL
                    THEN coalesce(p.ram_t, p.ram_d)::VARCHAR || 'GB' END AS ram0,
               coalesce(p.gpu_t, p.gpu_d) AS gpu
        FROM cl2 c JOIN piv p USING (doc_id)
    ),
    cat AS (
        SELECT *,
               CASE WHEN contains(tl, 'chromebook') THEN 'CHROMEBOOK'
                    WHEN contains(tl, 'macbook') OR contains(tl, 'mac air')
                         OR contains(tl, 'mac pro') OR contains(tl, 'imac') THEN 'APPLE'
                    WHEN contains(tl, 'surface') THEN 'SURFACE'
                    WHEN contains(upper(coalesce(cpu0, '')), 'APPLE M') THEN 'APPLE'
                    WHEN gpu IS NOT NULL AND contains(lower(gpu), 'quadro') THEN 'WORKSTATION'
                    WHEN gpu IS NOT NULL THEN 'GAMING'
                    WHEN (contains(ft, 'macbook') OR contains(ft, 'macos'))
                         AND NOT contains(upper(coalesce(cpu0, '')), 'AMD') THEN 'APPLE'
                    WHEN regexp_matches(ft, '\\b(?:surface|microsoft surface)\\b') THEN 'SURFACE'
                    WHEN regexp_matches(ft, '\\b(?:thinkpad|latitude|precision|zbook|quadro|elitebook|probook)\\b') THEN 'WORKSTATION'
                    WHEN regexp_matches(ft, '\\b(?:xps|spectre|zenbook|gram|yoga|matebook)\\b') THEN 'PREMIUM_ULTRABOOK'
                    WHEN regexp_matches(ft, '\\b(?:chromebook|chrome)\\b') THEN 'CHROMEBOOK'
                    WHEN contains(ft, 'gaming') THEN 'GAMING'
                    ELSE 'GENERICO' END AS category
        FROM m
    ),
    lim AS (
        SELECT *,
               CASE category WHEN 'CHROMEBOOK' THEN 16 WHEN 'SURFACE' THEN 32
                             WHEN 'PREMIUM_ULTRABOOK' THEN 64 WHEN 'GENERICO' THEN 64
                             ELSE 128 END AS cap,
               coalesce(CAST(nullif(regexp_replace(coalesce(ram0, ''), '[^0-9]', '', 'g'),
                                    '') AS INT), 0) AS ram_int
        FROM cat
    )
    SELECT doc_id,
           CASE WHEN category = 'CHROMEBOOK' AND coalesce(contains(cpu0, 'I7'), false)
                     AND contains(ft, 'celeron') THEN 'INTEL CELERON'
                WHEN category = 'CHROMEBOOK' AND coalesce(contains(cpu0, 'I7'), false)
                     AND contains(ft, 'pentium') THEN 'INTEL PENTIUM'
                ELSE cpu0 END AS cpu,
           CASE WHEN ram_int > cap THEN
                (CASE WHEN list_max(list_filter({ram_vals_ft}, v -> v <= cap)) IS NOT NULL
                      THEN list_max(list_filter({ram_vals_ft}, v -> v <= cap))::VARCHAR || 'GB' END)
                ELSE ram0 END AS ram,
           gpu, category,
           CASE WHEN regexp_matches(ft, '{cond_broken}') THEN 'BROKEN'
                WHEN regexp_matches(ft, '{cond_new}') THEN 'NEW'
                WHEN regexp_matches(ft, '{cond_like}') THEN 'LIKE_NEW'
                ELSE 'USED' END AS condition_regex
    FROM lim
    """


@query(
    "ud2_spec_extraction",
    oracle=_ud2_sql(),
    ops=("UD2", "X3", "X4", "X5", "X6", "X7", "X8", "X11", "X12"),
)
def ud2_spec_extraction(
    spark: SparkSession, sf_dir: str, *, impl: str = "sql"
) -> DataFrame:
    """The full prioritized spec pipeline (sanitize → truncate → title-
    priority merge → classify → constrain → condition) over listing text
    synthesized from documents: 15 deterministic snippet variants cover
    every branch of the reference decision tree (regex_analyzer.py:
    724-786), with title/description-fallback and spam-truncation
    routing keyed on doc_id.

    The DuckDB oracle replays the ENTIRE pipeline in SQL. The one
    non-RE2 construct — the RAM pattern's negative lookahead rejecting
    storage mentions (regex_analyzer.py:55-60) — is rewritten for the
    oracle as erase-then-extract, which is candidate-set-identical (see
    _ud2_sql_ram_vals). Remaining Java-only quirks stay golden-tested in
    tests/test_domain_golden.py.

    ``impl="arrow"`` switches the extraction stage to the row kernel the
    risk engine runs (``functions/specs_arrow.with_specs_arrow``): one
    scalar Arrow UDF with compiled ``re`` patterns instead of ~40
    sequential JVM regex projections. Equivalence to this SQL form is
    pinned in tests/test_scale_paths.py; timings ride bench.py VARIANTS.

    r13 note: a fanned-out scan (guide §2.5) was measured and REVERTED
    here — interleaved A/B at sf0.1 gave 3.54 s as-is vs 3.81 s fanned:
    this entry is driver-bound (plan build/analysis), not scan-bound,
    so the optimization target is with_specs' packed extractor tree
    (functions/specs.py), which cut the build 4.6 s → 2.2 s."""
    docs = _t(spark, sf_dir, "documents")
    n = len(_UD2_SNIPS)
    snip = F.element_at(
        F.array(*[F.lit(s) for s in _UD2_SNIPS]), (F.col("doc_id") % n + 1).cast("int")
    )
    title = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("Portatil "), snip)
    ).otherwise(F.lit("Portatil venta"))
    spam = F.when(F.col("doc_id") % 3 == 0, F.lit(_UD2_SPAM_LINE + "\n")).otherwise(
        F.lit("")
    )
    listings = docs.select(
        "doc_id",
        title.alias("title"),
        F.concat(snip, F.lit("\n"), spam, F.col("text")).alias("description"),
    )
    specs = with_specs_arrow if impl == "arrow" else with_specs
    out = specs(listings, title_col="title", desc_col="description")
    return out.select("doc_id", "cpu", "ram", "gpu", "category", "condition_regex")


# ---------------------------------------------------------------------------
# End-to-end: §3.2 stats build feeding the §3.1 risk engine, exact oracle
# reference: poller/poller.py:333-495,580-723 + regex_analyzer.py:849-1022
# ---------------------------------------------------------------------------

#: rp01 listing-spec tables keyed on doc_id % 12: categories × regex
#: conditions are CORRELATED so specific (category, condition) stats
#: nodes are singletons — dropped by the ≥2 cutoff — forcing the J1
#: fallback chain (docs 24/35/32 are the planted singleton NEW/NEW/
#: LIKE_NEW listings that fall back to LIKE_NEW / USED / USED).
_RP01_CATS = ["GAMING", "GAMING", "GAMING", "APPLE", "APPLE", "APPLE",
              "GENERICO", "GENERICO", "WORKSTATION", "WORKSTATION",
              "SURFACE", "CHROMEBOOK"]
_RP01_CONDS = ["LIKE_NEW", "USED", "BROKEN", "NEW", "LIKE_NEW", "USED",
               "USED", "LIKE_NEW", "USED", "USED", "NEW", "USED"]
_RP01_TITLES = ["Portatil gaming rapido", "Macbook air ligero",
                "Funda para portatil", "Caja de raton"]


def _rp01_listings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic listing corpus with PRE-BUILT spec columns (the
    UD2 extraction stage is oracle-checked separately by
    ud2_spec_extraction; feeding ready specs keeps every downstream
    stage — segmentation, stats cutoffs, fallback joins, composite-Z,
    the ×1.2 re-score, gating, seller adjustments — SQL-replayable).
    Residue classes plant symbolic prices (%13), hidden-price rescues
    (%17), contact mentions (%11) and short descriptions (%19)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    m12 = (d % 12).cast("int")
    cond = (
        F.when(d == 24, "NEW").when(d == 35, "NEW").when(d == 32, "LIKE_NEW")
        .otherwise(F.element_at(F.array(*[F.lit(c) for c in _RP01_CONDS]), m12 + 1))
    )
    api = (
        F.when(m12 == 6, "new")
        .when((m12 == 7) & (d % 24 == 7), "good")
        .otherwise(F.lit(None).cast("string"))
    )
    price = (
        F.when(d % 13 == 0, 2.0)
        .when(d % 17 == 0, 0.0)
        .otherwise((F.col("n_chars") % 900) + 50.0)
    )
    desc = F.when(d % 19 == 0, F.lit("corto")).otherwise(
        F.concat(
            F.when(d % 17 == 0, F.lit("vendo por 350 euros ")).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.lit("contacto whatsapp ")).otherwise(F.lit("")),
            F.col("text"),
        )
    )
    return docs.select(
        d.cast("string").alias("id"),
        F.element_at(
            F.array(*[F.lit(t) for t in _RP01_TITLES]), (d % 4).cast("int") + 1
        ).alias("title"),
        desc.alias("description"),
        price.alias("price"),
        api.alias("api_condition"),
        (m12 == 4).alias("is_refurbished"),
        (d % 50).alias("user_id"),
        F.when(d % 3 == 0, "INTEL I7").when(d % 3 == 1, "AMD RYZEN 5").alias("cpu"),
        F.when(d % 6 == 0, "NVIDIA RTX 3060")
        .when(d % 6 == 3, "NVIDIA GTX 1650").alias("gpu"),
        F.when(d % 2 == 0, "16GB").otherwise("8GB").alias("ram"),
        F.element_at(F.array(*[F.lit(c) for c in _RP01_CATS]), m12 + 1).alias("category"),
        cond.alias("condition_regex"),
    )


def _rp01_sql() -> str:
    """SQL replay of build_market_stats → score_listings over the same
    deterministic corpus. Exactness notes: prices and review scorings
    are integer-valued so cross-engine sums are exact in doubles; the
    A6 weighted sums mirror operators/risk.py's left-to-right fold; all
    printf'd values are pre-rounded at the same precision."""
    cats = "[" + ", ".join(f"'{c}'" for c in _RP01_CATS) + "]"
    conds = "[" + ", ".join(f"'{c}'" for c in _RP01_CONDS) + "]"
    titles = "[" + ", ".join(f"'{t}'" for t in _RP01_TITLES) + "]"
    hidden_re = (r"(?i)(?:precio|valor|vende|vendo|pido|oferta)[:\s]*(?:por)?\s*"
                 r"(\d{2,4})(?:[\.,]\d{2})?\s*(?:€|eur|euros)")
    loose_re = r"(?i)\b(\d{2,4})\s*(?:€|euros)\b"
    return f"""
WITH l0 AS (
    SELECT CAST(doc_id AS VARCHAR) AS id,
           ({titles})[CAST(doc_id % 4 AS INT) + 1] AS title,
           CASE WHEN doc_id % 19 = 0 THEN 'corto' ELSE
                (CASE WHEN doc_id % 17 = 0 THEN 'vendo por 350 euros ' ELSE '' END) ||
                (CASE WHEN doc_id % 11 = 0 THEN 'contacto whatsapp ' ELSE '' END) || text
           END AS description,
           CASE WHEN doc_id % 13 = 0 THEN 2.0
                WHEN doc_id % 17 = 0 THEN 0.0
                ELSE (n_chars % 900) + 50.0 END AS praw,
           CASE WHEN doc_id % 12 = 6 THEN 'new'
                WHEN doc_id % 12 = 7 AND doc_id % 24 = 7 THEN 'good' END AS api_condition,
           (doc_id % 12 = 4) AS is_refurbished,
           doc_id % 50 AS user_id,
           CASE WHEN doc_id % 3 = 0 THEN 'INTEL I7'
                WHEN doc_id % 3 = 1 THEN 'AMD RYZEN 5' END AS cpu,
           CASE WHEN doc_id % 6 = 0 THEN 'NVIDIA RTX 3060'
                WHEN doc_id % 6 = 3 THEN 'NVIDIA GTX 1650' END AS gpu,
           CASE WHEN doc_id % 2 = 0 THEN '16GB' ELSE '8GB' END AS ram,
           ({cats})[CAST(doc_id % 12 AS INT) + 1] AS category,
           CASE WHEN doc_id IN (24, 35) THEN 'NEW' WHEN doc_id = 32 THEN 'LIKE_NEW'
                ELSE ({conds})[CAST(doc_id % 12 AS INT) + 1] END AS condition_regex
    FROM documents
),
l1 AS (
    SELECT *,
           CASE WHEN api_condition IS NOT NULL THEN
                CASE lower(api_condition) WHEN 'new' THEN 'NEW'
                     WHEN 'as_good_as_new' THEN 'LIKE_NEW'
                     WHEN 'has_given_it_all' THEN 'BROKEN' ELSE 'USED' END END AS api_cond,
           CASE WHEN coalesce(is_refurbished, false) THEN 'LIKE_NEW'
                ELSE CASE WHEN api_condition IS NOT NULL THEN
                     CASE lower(api_condition) WHEN 'new' THEN 'NEW'
                          WHEN 'as_good_as_new' THEN 'LIKE_NEW'
                          WHEN 'has_given_it_all' THEN 'BROKEN' ELSE 'USED' END END
           END AS verified_cond
    FROM l0
),
l2 AS (
    SELECT *,
           coalesce(api_cond,
                    CASE WHEN coalesce(is_refurbished, false) THEN 'LIKE_NEW' END,
                    condition_regex) AS cond
    FROM l1
),
seg AS (
    SELECT *,
           CASE WHEN praw < 5 THEN 'UNCERTAIN'
                WHEN praw > 10000 THEN 'JUNK'
                WHEN cond = 'BROKEN' THEN 'BROKEN'
                WHEN (contains(lower(title),'funda') OR contains(lower(title),'caja')
                      OR contains(lower(title),'dock') OR contains(lower(title),'raton'))
                     AND praw < 100 THEN 'ACCESSORY'
                WHEN (contains(lower(title),'funda') OR contains(lower(title),'caja')
                      OR contains(lower(title),'dock') OR contains(lower(title),'raton'))
                     AND NOT (contains(lower(title),'portatil') OR contains(lower(title),'laptop')
                              OR contains(lower(title),'macbook')) THEN 'ACCESSORY'
                ELSE 'PRIME' END AS segment
    FROM l2
),
prime AS (
    SELECT category, cond,
           round(avg(praw), 2) AS mean, round(stddev_samp(praw), 2) AS stdev
    FROM seg WHERE segment = 'PRIME'
    GROUP BY category, cond HAVING count(*) >= 2
),
comps AS (
    SELECT category, cond, ct, cn,
           round(avg(praw), 2) AS mean, round(stddev_samp(praw), 2) AS stdev
    FROM (
        SELECT category, cond, praw, 'cpu' AS ct, cpu AS cn FROM seg WHERE segment = 'PRIME'
        UNION ALL
        SELECT category, cond, praw, 'gpu', gpu FROM seg WHERE segment = 'PRIME'
        UNION ALL
        SELECT category, cond, praw, 'ram', ram FROM seg WHERE segment = 'PRIME'
    ) WHERE cn IS NOT NULL
    GROUP BY category, cond, ct, cn HAVING count(*) >= 2
),
px AS (
    SELECT *,
           (list_filter(list_transform(regexp_extract_all(
                concat_ws(' ' || chr(10) || ' ', title, description), '{hidden_re}', 1),
                x -> CAST(x AS DOUBLE)), v -> v > 20))[1] AS structured,
           list_max(list_filter(list_transform(regexp_extract_all(
                concat_ws(' ' || chr(10) || ' ', title, description), '{loose_re}', 1),
                x -> CAST(x AS DOUBLE)), v -> v >= 50 AND v <= 5000)) AS loose
    FROM seg
),
pc AS (
    SELECT *,
           CASE WHEN praw < 5.0 AND coalesce(structured, loose) IS NOT NULL
                THEN coalesce(structured, loose) ELSE praw END AS price,
           (praw < 5.0 AND coalesce(structured, loose) IS NOT NULL) AS price_corrected
    FROM px
),
sc0 AS (SELECT * FROM pc WHERE price >= 1.0 OR price_corrected),
j1 AS (
    SELECT s.*,
           pe.mean AS mean_e, pe.stdev AS sd_e,
           p1.mean AS mean_f1, p1.stdev AS sd_f1,
           p2.mean AS mean_f2, p2.stdev AS sd_f2
    FROM sc0 s
    LEFT JOIN prime pe ON pe.category = s.category AND pe.cond = s.cond
    LEFT JOIN prime p1 ON p1.category = s.category AND p1.cond =
        CASE s.cond WHEN 'NEW' THEN 'LIKE_NEW' WHEN 'LIKE_NEW' THEN 'USED' END
    LEFT JOIN prime p2 ON p2.category = s.category AND p2.cond =
        CASE s.cond WHEN 'NEW' THEN 'USED' END
),
j2 AS (
    SELECT *,
           (mean_e IS NULL AND (mean_f1 IS NOT NULL OR mean_f2 IS NOT NULL)) AS fallback_used,
           coalesce(mean_e, mean_f1, mean_f2) AS node_mean,
           coalesce(sd_e, sd_f1, sd_f2) AS node_sd,
           CASE WHEN mean_e IS NOT NULL THEN cond
                WHEN mean_f1 IS NOT NULL THEN
                     CASE cond WHEN 'NEW' THEN 'LIKE_NEW' WHEN 'LIKE_NEW' THEN 'USED' END
                WHEN mean_f2 IS NOT NULL THEN CASE cond WHEN 'NEW' THEN 'USED' END
           END AS rescond
    FROM j1
),
j3 AS (
    SELECT j.*,
           cc.mean AS m_cpu, cc.stdev AS s_cpu,
           cg.mean AS m_gpu, cg.stdev AS s_gpu,
           cr.mean AS m_ram, cr.stdev AS s_ram
    FROM j2 j
    LEFT JOIN comps cc ON cc.ct = 'cpu' AND cc.category = j.category
                       AND cc.cond = j.rescond AND cc.cn = j.cpu
    LEFT JOIN comps cg ON cg.ct = 'gpu' AND cg.category = j.category
                       AND cg.cond = j.rescond AND cg.cn = j.gpu
    LEFT JOIN comps cr ON cr.ct = 'ram' AND cr.category = j.category
                       AND cr.cond = j.rescond AND cr.cn = j.ram
),
a6 AS (
    SELECT *,
           (((CASE WHEN s_cpu IS NOT NULL AND s_cpu > 0 THEN 0.5 ELSE 0.0 END
            + CASE WHEN s_gpu IS NOT NULL AND s_gpu > 0 THEN 0.3 ELSE 0.0 END)
            + CASE WHEN s_ram IS NOT NULL AND s_ram > 0 THEN 0.1 ELSE 0.0 END)
            + CASE WHEN node_sd IS NOT NULL AND node_sd > 0 THEN 0.1 ELSE 0.0 END) AS tot_w,
           (((CASE WHEN s_cpu IS NOT NULL AND s_cpu > 0 THEN 0.5 * (price - m_cpu) / s_cpu ELSE 0.0 END
            + CASE WHEN s_gpu IS NOT NULL AND s_gpu > 0 THEN 0.3 * (price - m_gpu) / s_gpu ELSE 0.0 END)
            + CASE WHEN s_ram IS NOT NULL AND s_ram > 0 THEN 0.1 * (price - m_ram) / s_ram ELSE 0.0 END)
            + CASE WHEN node_sd IS NOT NULL AND node_sd > 0 THEN 0.1 * (price - node_mean) / node_sd ELSE 0.0 END) AS wz,
           (((CASE WHEN s_cpu IS NOT NULL AND s_cpu > 0 THEN 0.5 * m_cpu ELSE 0.0 END
            + CASE WHEN s_gpu IS NOT NULL AND s_gpu > 0 THEN 0.3 * m_gpu ELSE 0.0 END)
            + CASE WHEN s_ram IS NOT NULL AND s_ram > 0 THEN 0.1 * m_ram ELSE 0.0 END)
            + CASE WHEN node_sd IS NOT NULL AND node_sd > 0 THEN 0.1 * node_mean ELSE 0.0 END) AS wm
    FROM j3
),
a7 AS (
    SELECT *,
           (fallback_used AND cond = 'NEW' AND tot_w > 0) AS rescore,
           CASE WHEN tot_w > 0 THEN wz / tot_w ELSE 0.0 END AS base_z,
           CASE WHEN tot_w > 0 THEN wm / tot_w ELSE 0.0 END AS base_est
    FROM a6
),
a8 AS (
    SELECT *,
           CASE WHEN rescore THEN base_est * 1.2 ELSE base_est END AS est_val
    FROM a7
),
a9 AS (
    SELECT *,
           CASE WHEN rescore THEN (price - est_val) / coalesce(node_sd, 100.0)
                ELSE base_z END AS final_z,
           (price < 5.0) AS symbolic
    FROM a8
),
a10 AS (
    SELECT *,
           round(CASE WHEN symbolic THEN 0.0 ELSE final_z END, 2) + 0.0 AS composite_z,
           round(CASE WHEN symbolic THEN 0.0 ELSE est_val END, 2) + 0.0 AS estimated_value,
           CASE WHEN symbolic THEN 'UNCERTAIN_PRICE' ELSE category END AS category_out,
           regexp_matches(coalesce(description, ''), '(?i)(whatsapp|6\\d{{8}})') AS contact,
           (length(coalesce(description, '')) < 30 AND price > 200) AS short_desc
    FROM a9
),
usr AS (
    SELECT DISTINCT doc_id % 50 AS user_id FROM documents
),
users AS (
    SELECT user_id,
           CAST((user_id % 15) * 80 AS INT) AS register_days,
           CASE WHEN user_id % 9 = 0 THEN ['TOP'] ELSE ['seller'] END AS badges,
           CASE WHEN user_id % 3 = 0 THEN 'pro' ELSE 'individual' END AS user_type,
           CASE WHEN user_id % 25 = 0 THEN 1 ELSE 0 END AS scam_reports
    FROM usr
),
rv AS (
    SELECT user_id % 40 AS user_id,
           count(*) AS sales,
           round(avg(CASE WHEN user_id % 40 < 10 THEN 95 + CAST(floor(value) AS BIGINT) % 5
                          ELSE 60 + CAST(floor(value) AS BIGINT) % 40 END) / 100 * 5, 2) AS avg_stars
    FROM events GROUP BY user_id % 40
),
g AS (
    SELECT a.*,
           u.register_days, u.badges, u.user_type, u.scam_reports,
           coalesce(r.sales, 0) AS sales, coalesce(r.avg_stars, 0.0) AS avg_stars,
           (NOT symbolic AND (composite_z < -1.5 OR contact OR price_corrected)) AS gate
    FROM a10 a
    LEFT JOIN users u ON u.user_id = a.user_id
    LEFT JOIN rv r ON r.user_id = a.user_id
),
rules AS (
    SELECT *,
           (len(list_filter(coalesce(badges, []), b -> contains(upper(b), 'TOP'))) > 0
            OR user_type = 'pro') AS is_top,
           least((CASE WHEN NOT symbolic AND composite_z < -1.5 THEN 30 ELSE 0 END
                + CASE WHEN NOT symbolic AND composite_z < -2.5 THEN 40 ELSE 0 END
                + CASE WHEN NOT symbolic AND short_desc THEN 15 ELSE 0 END
                + CASE WHEN NOT symbolic AND contact THEN 30 ELSE 0 END), 100) AS base_score
    FROM g
),
fin AS (
    SELECT *,
           (CASE WHEN gate AND sales > 5 AND avg_stars >= 4.5 THEN -30 ELSE 0 END
            + CASE WHEN gate AND is_top THEN -50 ELSE 0 END
            + CASE WHEN gate AND register_days IS NOT NULL AND register_days < 3 THEN 30 ELSE 0 END
            + CASE WHEN gate AND register_days IS NOT NULL AND register_days > 365 AND sales = 0 THEN 20 ELSE 0 END) AS adj,
           (gate AND coalesce(scam_reports, 0) > 0) AS scam
    FROM rules
)
SELECT id, price, category_out AS category, cond AS condition, fallback_used,
       composite_z, estimated_value,
       greatest(0, least(100, CASE WHEN scam THEN 100 ELSE base_score + adj END)) AS risk_score,
       gate AS enriched,
       concat_ws('; ',
           CASE WHEN symbolic THEN 'Symbolic Price' END,
           CASE WHEN NOT symbolic AND composite_z < -1.5
                THEN printf('Statistically Cheap (Z=%.2f) [%s]', composite_z, cond) END,
           CASE WHEN NOT symbolic AND composite_z < -2.5 THEN 'EXTREME Price Anomaly' END,
           CASE WHEN NOT symbolic AND short_desc THEN 'Short Desc' END,
           CASE WHEN NOT symbolic AND contact THEN 'External Contact' END,
           CASE WHEN verified_cond IS NOT NULL
                THEN printf('Verified Condition: %s', verified_cond) END,
           CASE WHEN gate AND sales > 5 AND avg_stars >= 4.5
                THEN printf('Trusted Seller (%d+ reviews)', sales) END,
           CASE WHEN gate AND is_top THEN 'TOP SELLER' END,
           CASE WHEN gate AND register_days IS NOT NULL AND register_days < 3 THEN 'New User' END,
           CASE WHEN gate AND register_days IS NOT NULL AND register_days > 365 AND sales = 0
                THEN 'Dormant Account' END,
           CASE WHEN gate AND coalesce(scam_reports, 0) > 0 THEN 'REPORTED SCAMMER' END
       ) AS risk_factors
FROM fin
"""


@query("rp01_end_to_end_risk", oracle=_rp01_sql(), ops=("PIPELINE",))
def rp01_end_to_end_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full production loop in one plan: a deterministic
    listing corpus (pre-built spec columns — extraction is covered by
    ud2_spec_extraction's own oracle), the market-stats dims built from
    it (operators/stats.py = §3.2), broadcast back into the composed
    risk scorer with gated user enrichment (operators/risk.py = §3.1).
    The DuckDB oracle replays every stage: segmentation cutoffs,
    hidden-price rescue, the J1 fallback chain (planted singleton
    stats nodes), composite-Z, the NEW-on-fallback ×1.2 re-score
    (poller.py:448-456), X15 clamp, and all seller adjustments."""
    from ..operators.risk import score_listings
    from ..operators.stats import build_market_stats

    listings = _rp01_listings(spark, sf_dir)
    users = listings.select("user_id").distinct().select(
        "user_id",
        ((F.col("user_id") % 15) * 80).cast("int").alias("register_days"),
        F.when(F.col("user_id") % 9 == 0, F.array(F.lit("TOP")))
        .otherwise(F.array(F.lit("seller"))).alias("badges"),
        F.when(F.col("user_id") % 3 == 0, "pro").otherwise("individual").alias("user_type"),
        F.when(F.col("user_id") % 25 == 0, 1).otherwise(0).alias("scam_reports"),
    )
    reviews = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 40).alias("user_id"),
        F.when(F.col("user_id") % 40 < 10, 95 + F.floor("value") % 5)
        .otherwise(60 + F.floor("value") % 40).alias("scoring"),
    )
    specced = listings.persist()
    prime, comp, _secondary = build_market_stats(specced, specs_ready=True)
    # the stats dims are broadcast-sized aggregates that appear 3× each
    # in the scorer's join tree; cutting their logical plans here keeps
    # every downstream analysis pass from re-traversing the aggregate-
    # over-corpus subtree (at cluster scale they'd be materialized
    # before broadcast anyway)
    prime = prime.localCheckpoint(eager=False)
    comp = comp.localCheckpoint(eager=False)
    return score_listings(
        specced, prime, comp, users=users, reviews=reviews, specs_ready=True
    ).select(
        "id", "price", "category", "condition", "fallback_used",
        "composite_z", "estimated_value", "risk_score", "enriched",
        F.concat_ws("; ", "risk_factors").alias("risk_factors"),
    )

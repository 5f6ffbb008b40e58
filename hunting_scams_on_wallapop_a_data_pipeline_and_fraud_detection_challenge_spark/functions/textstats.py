"""Text-analysis column library for the training-data pipeline ops.

Tokenization, word-shingling, language-ID scoring, quality scoring,
token counting, and document fingerprinting — all as native Spark
column expressions (whole-stage codegen, no UDFs), each with an
adjacent DuckDB SQL fragment so every operator is oracle-verifiable.

These extend the reference's text surface (spam truncation / keyword
classes, ``poller/regex_analyzer.py:228-289``) to the corpus-scale ops
a 100 TB training-data pipeline needs (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import M31, hmod, sql_hmod

# --- tokenization ----------------------------------------------------------


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empty strings removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")


def has_tokens(text: Column) -> Column:
    """``size(tokens(text)) > 0`` without building the array: a token
    exists iff the text holds a character the ``\\s+`` split does not
    consume. NULL text stays NULL."""
    return text.rlike(r"\S")


def sql_tokens(expr: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({expr}), '\\s+'), x -> x <> '')"


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def sql_distinct_tokens(expr: str) -> str:
    return f"list_distinct({sql_tokens(expr)})"


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined).

    Guarded: Spark's ``sequence(1, k)`` runs DESCENDING when k < 1, so
    short documents must short-circuit to an empty array explicitly.

    The token array is bound as a lambda variable (via a 1-element
    ``transform``) before the per-shingle ``element_at`` references —
    otherwise Catalyst's CollapseProject inlines the whole tokenizer
    subtree into every lambda call and the expression re-tokenizes
    ~3·|shingles| times per row (measured 25× slower at sf0.1). A
    projection-level alias does NOT protect against this."""

    def _of(t: Column) -> Column:
        sh = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + k) for k in range(n)]),
        )
        return F.when(F.size(t) >= n, F.array_distinct(sh)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(toks), _of), 1)


def sql_shingles(toks_expr: str, n: int = 3) -> str:
    # The k=0 term is built as "[i]" directly (never a post-substitution
    # string rewrite, which would corrupt a tokens expression containing
    # the literal "[i+0]"), and the tokenizer expression is bound ONCE via
    # a one-element list_transform — the DuckDB twin of the Spark side's
    # F.transform(F.array(toks), ...) binding trick.
    joined = " || ' ' || ".join(
        "__sh[i]" if k == 0 else f"__sh[i+{k}]" for k in range(n)
    )
    return (
        f"(list_transform([{toks_expr}], __sh -> "
        f"CASE WHEN len(__sh) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len(__sh)-{n - 2}), "
        f"i -> {joined})) ELSE []::VARCHAR[] END))[1]"
    )


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams WITH multiplicity (space-joined) — the repetition
    metrics need occurrence counts, which :func:`shingles`'s
    ``array_distinct`` destroys. Same short-document guard and
    lambda-binding discipline as shingles."""

    def _of(t: Column) -> Column:
        sh = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + k) for k in range(n)]),
        )
        return F.when(F.size(t) >= n, sh).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(toks), _of), 1)


def sql_ngrams(toks_expr: str, n: int) -> str:
    # Same template discipline as sql_shingles: literal "[i]" first term,
    # tokenizer bound once (it was previously re-evaluated n+2 times/row).
    joined = " || ' ' || ".join(
        "__ng[i]" if k == 0 else f"__ng[i+{k}]" for k in range(n)
    )
    return (
        f"(list_transform([{toks_expr}], __ng -> "
        f"CASE WHEN len(__ng) >= {n} THEN "
        f"list_transform(range(1, len(__ng)-{n - 2}), "
        f"i -> {joined}) ELSE []::VARCHAR[] END))[1]"
    )


# --- language identification (stopword-hit heuristic) ----------------------

LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los"],
    "fr": ["le", "la", "les", "de", "et", "une", "pour", "est"],
    "de": ["der", "die", "das", "und", "ein", "ist", "nicht", "mit"],
}

#: deterministic tie order for argmax — first listed wins ties.
LANG_ORDER = ["en", "es", "fr", "de"]


def lang_hits(toks_distinct: Column, lang: str) -> Column:
    words = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.array_intersect(toks_distinct, words))


def predicted_lang(toks_distinct: Column) -> Column:
    """argmax over stopword-hit counts, 'unknown' when all zero.

    The tie order (en > es > fr > de) is part of the operator contract —
    the oracle SQL replays the identical CASE chain.
    """
    hits = {lg: lang_hits(toks_distinct, lg) for lg in LANG_ORDER}
    expr = F.when(F.greatest(*hits.values()) == 0, "unknown")
    for i, lg in enumerate(LANG_ORDER):
        cond = F.lit(True)
        for other in LANG_ORDER[i + 1 :]:
            cond = cond & (hits[lg] >= hits[other])
        expr = expr.when(cond, lg)
    return expr


def sql_predicted_lang(toks_expr: str) -> str:
    def hits(lg: str) -> str:
        lst = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lg])
        return f"len(list_intersect({toks_expr}, [{lst}]))"

    h = {lg: hits(lg) for lg in LANG_ORDER}
    branches = [f"WHEN greatest({', '.join(h.values())}) = 0 THEN 'unknown'"]
    for i, lg in enumerate(LANG_ORDER):
        conds = [f"{h[lg]} >= {h[o]}" for o in LANG_ORDER[i + 1 :]] or ["TRUE"]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    return "CASE " + " ".join(branches) + " END"


# --- quality scoring -------------------------------------------------------

#: BPE-ish token pattern: letter runs | digit runs | single punctuation.
#: RE2-safe (no lookarounds) so the oracle can use the same pattern.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def sql_bpe_token_count(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{BPE_TOKEN_RE}'))"


def quality_components(text: Column) -> dict[str, Column]:
    """Length / stopword-ratio / punctuation-ratio / word-length signals.

    All double math mirrors the oracle exactly: ratios are computed from
    integer counts (exact in both engines) before any multiplication.
    """
    toks = tokens(text)
    n_toks = F.size(toks)
    en = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(en, x)))
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    # token-less / empty text: every ratio is DEFINED as 0 (ANSI Spark
    # raises on x/0, DuckDB yields NaN — both sides guard identically)
    return {
        "n_tokens": n_toks,
        "stop_ratio": F.when(n_toks > 0, n_stop / n_toks).otherwise(0.0),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0),
        "mean_wlen": F.when(
            n_toks > 0, F.length(F.concat_ws("", toks)) / n_toks
        ).otherwise(0.0),
    }


def quality_score(text: Column) -> Column:
    """Weighted quality score in [0,1]: length + low-punct + stopword
    presence + word-length plausibility (the reference's short-desc
    heuristic ``poller/poller.py:474-476`` generalized to a score)."""
    c = quality_components(text)
    score = (
        0.25 * F.least(c["n_tokens"] / 100.0, F.lit(1.0))
        + 0.25 * (1.0 - F.least(c["punct_ratio"] * 10.0, F.lit(1.0)))
        + 0.30 * F.least(c["stop_ratio"] * 5.0, F.lit(1.0))
        + 0.20 * F.least(c["mean_wlen"] / 8.0, F.lit(1.0))
    )
    return score


def dup_ratio(text: Column) -> Column:
    """Duplicate-token fraction ``1 - distinct/total`` straight off the
    token array (no explode — set size via ``array_distinct``); 0 for
    token-less text, mirroring the quality-ratio guards."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    ).otherwise(0.0)


def sql_dup_ratio(expr: str) -> str:
    toks = sql_tokens(expr)
    return (
        f"(CASE WHEN len({toks}) > 0 THEN "
        f"1.0 - len(list_distinct({toks})) / CAST(len({toks}) AS DOUBLE) "
        f"ELSE 0.0 END)"
    )


def sql_quality_ratios(expr: str) -> dict[str, str]:
    """DuckDB fragments for the :func:`quality_components` signals —
    the single source for every oracle that consumes these ratios
    (``sql_quality_score`` and the gopher-rule battery), so the two
    can't drift from each other or from the Spark side."""
    toks = sql_tokens(expr)
    en = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    n_toks = f"len({toks})"
    n_stop = f"len(list_filter({toks}, x -> x IN ({en})))"
    n_chars = f"length({expr})"
    n_punct = f"({n_chars} - length(regexp_replace({expr}, '[^\\w\\s]', '', 'g')))"
    mean_wlen = (
        f"(CASE WHEN {n_toks} > 0 THEN "
        f"length(array_to_string({toks}, '')) / CAST({n_toks} AS DOUBLE) "
        f"ELSE 0.0 END)"
    )
    punct_ratio = (
        f"(CASE WHEN {n_chars} > 0 THEN "
        f"{n_punct} / CAST({n_chars} AS DOUBLE) ELSE 0.0 END)"
    )
    stop_ratio = (
        f"(CASE WHEN {n_toks} > 0 THEN "
        f"{n_stop} / CAST({n_toks} AS DOUBLE) ELSE 0.0 END)"
    )
    return {
        "n_tokens": n_toks,
        "mean_wlen": mean_wlen,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
    }


def sql_quality_score(expr: str) -> str:
    c = sql_quality_ratios(expr)
    n_toks = c["n_tokens"]
    mean_wlen = c["mean_wlen"]
    punct_ratio = c["punct_ratio"]
    stop_ratio = c["stop_ratio"]
    return (
        f"(0.25 * least({n_toks} / 100.0, 1.0)"
        f" + 0.25 * (1.0 - least({punct_ratio} * 10.0, 1.0))"
        f" + 0.30 * least({stop_ratio} * 5.0, 1.0)"
        f" + 0.20 * least({mean_wlen} / 8.0, 1.0))"
    )


# --- document fingerprint --------------------------------------------------


def fingerprint(text: Column) -> Column:
    """Order-sensitive rolling hash over token hashes:
    ``h := (h*31 + hmod(tok)) mod M31`` folded left-to-right.

    A one-column document identity for shuffle-light exact dedup and
    drift detection; portable because the fold order is pinned in both
    engines (Spark ``aggregate``, DuckDB ``list_reduce``)."""
    hashes = F.transform(tokens(text), lambda t: hmod(t))
    return F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % M31,
    )


def sql_fingerprint(expr: str) -> str:
    harr = f"list_transform({sql_tokens(expr)}, t -> {sql_hmod('t')})"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {harr}), "
        f"(a, b) -> (a*31 + b) % {M31})"
    )


# --- SimHash ----------------------------------------------------------------


def simhash_expr(text: Column, bits: int) -> Column:
    """``bits``-wide SimHash of a document: one ±1 vote per bit per
    distinct-token ``hmod`` hash, bit set where the vote sum is
    positive. Integer sums are order-free, so the value is exact and
    engine-independent. A row without tokens gets 0. The hash array is
    bound as a lambda variable so the tokenizer runs once per row, not
    once per bit (the ``shingles`` binding trick)."""
    hs = F.transform(distinct_tokens(text), lambda t: hmod(t))

    def _of(h_arr: Column) -> Column:
        sim = None
        for j in range(bits):
            vote = F.aggregate(
                h_arr,
                F.lit(0),
                lambda acc, h: acc
                + F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1),
            )
            term = F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0))
            sim = term if sim is None else sim + term
        return sim.cast("bigint")

    return F.element_at(F.transform(F.array(hs), _of), 1)

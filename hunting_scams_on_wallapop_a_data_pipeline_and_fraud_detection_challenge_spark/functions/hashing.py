"""Portable (cross-engine) hashing primitives.

The training-data operators (MinHash-LSH dedup, SimHash, fingerprinting,
LSH-ANN) need a hash function that produces IDENTICAL values in Spark
and in the DuckDB oracle, so the driver's value-hash correctness gate
can verify them exactly instead of falling back to rows-only checks.

``h32``: the first 8 hex chars of md5 reinterpreted as a BIGINT in
[0, 2^32). Both engines expose md5 as a lowercase hex string, so
``conv(substring(md5(x),1,8),16,10)`` (Spark) and
``CAST('0x'||substring(md5(x),1,8) AS BIGINT)`` (DuckDB) agree
bit-for-bit. Derived hash families use Carter-Wegman style
``(a*h + b) mod M31`` with small odd ``a`` so all arithmetic stays
inside BIGINT (max ~2^36) with no overflow in either engine.

The module also holds the one Bloom filter over shingle hashes
(``shingle_hashes`` → ``bloom_build`` / ``bloom_merge`` /
``bloom_probe``) that dd12, cp03 and the streaming ingest and quality
gates share.

Scale note: md5-per-value is heavier than xxhash64, but it stays inside
whole-stage codegen (no Python), is branch-free, and the hash cost is
dwarfed by the shuffle it feeds; on a real cluster swap ``h32`` for
``F.xxhash64`` and drop oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1 — the modulus for all derived hash families.
M31 = 2147483647


def h32(col: Column) -> Column:
    """Portable 32-bit hash: first 8 md5 hex chars as BIGINT [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hmod(col: Column) -> Column:
    """``h32`` reduced mod M31 — the input to seeded hash families."""
    return h32(col) % M31


def seeded(hcol: Column, j: Column) -> Column:
    """j-th universal hash of an already-``hmod``-ed value.

    ``((2j+1)*h + 7919j + 1) mod M31`` — odd multiplier, distinct per
    seed; 31 * 2^31 < 2^36 so BIGINT-safe in both engines.
    """
    return ((2 * j + 1) * hcol + 7919 * j + 1) % M31


# --- Bloom filter over shingle hashes ---------------------------------------
#: bloom geometry: 4096 words x 63 usable bits (the sign bit is never
#: set — DuckDB raises on 1 << 63) = 258,048 bits; 4 probes per key.
#: The synthetic corpus tops out near ~27k distinct shingles (vocab 31
#: => at most 31^3 3-gram shingles), so fill stays under ~35% and the
#: false-positive rate under ~1.5% at every SF.
_BLOOM_WORDS = 4096
_BLOOM_BITS = _BLOOM_WORDS * 63
_BLOOM_K = 4


def shingle_hashes(df: DataFrame, *keys: str, text: str = "text") -> DataFrame:
    """(keys…, h): one row per word 3-gram shingle of ``text`` (distinct
    within each row), hashed with ``hmod``. Rows with no shingle drop
    out. The one projection every Bloom build and probe hashes.

    Tokens and shingles are two projections on purpose: over
    ``documents`` keyed by ``doc_id`` the plan up to the filter then
    matches dd02's persisted shingle table, and Spark's cache manager
    serves dd12 from it whenever dd02 ran earlier in the session."""
    from .textstats import shingles, tokens

    return (
        df.select(*keys, tokens(F.col(text)).alias("t"))
        .select(*keys, shingles(F.col("t")).alias("sh"))
        .filter(F.size("sh") > 0)
        .select(*keys, F.explode("sh").alias("s"))
        .select(*keys, hmod(F.col("s")).alias("h"))
    )


def _bloom_bits(df: DataFrame, *keys: str) -> DataFrame:
    """(keys…, h, word, mask): the ``_BLOOM_K`` probe positions of each
    ``h`` — Carter-Wegman ``seeded`` hashes mod ``_BLOOM_BITS``, split
    into a 63-bit word index and a one-bit mask."""
    j = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("j")
    pos = (seeded(F.col("h"), F.col("j")) % _BLOOM_BITS).alias("pos")
    return (
        df.select(*keys, "h", j)
        .select(*keys, "h", pos)
        .select(
            *keys,
            "h",
            F.expr("pos DIV 63").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias(
                "mask"
            ),
        )
    )


def bloom_build(hashes: DataFrame) -> DataFrame:
    """(h) → (word, bits): the Bloom filter as at most ``_BLOOM_WORDS``
    BIGINT words, OR-folded with ``bit_or``. The map-side partial
    ``bit_or`` means the shuffle carries kilobytes at any corpus size."""
    return (
        _bloom_bits(hashes)
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """The union of two (word, bits) tables, OR-folded by word — the
    merge of two Bloom filters over the same geometry."""
    return a.unionByName(b).groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_probe(hashes: DataFrame, bloom: DataFrame, *keys: str) -> DataFrame:
    """(keys…, h) → (keys…, h, seen): ``seen`` is 1 when all
    ``_BLOOM_K`` probe bits of ``h`` are set in ``bloom`` (a
    :func:`bloom_build` table), else 0. One row per distinct
    (keys…, h). A Bloom filter only over-claims: every hash that went
    into the build is seen. The word table holds at most
    ``_BLOOM_WORDS`` rows, so its broadcast hint is safe a priori."""
    hit = F.when(
        F.col("bits").isNotNull()
        & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
        1,
    ).otherwise(0)
    return (
        _bloom_bits(hashes, *keys)
        .join(F.broadcast(bloom), "word", "left")
        .select(*keys, "h", hit.alias("hit"))
        .groupBy(*keys, "h")
        .agg(F.when(F.sum("hit") == _BLOOM_K, 1).otherwise(0).alias("seen"))
    )


# --- DuckDB oracle fragments (kept adjacent so they can't drift) -----------


def sql_h32(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 8)) AS BIGINT)"


def sql_hmod(expr: str) -> str:
    return f"({sql_h32(expr)} % {M31})"


def sql_seeded(hexpr: str, jexpr: str) -> str:
    return f"(((2*{jexpr}+1)*{hexpr} + 7919*{jexpr} + 1) % {M31})"

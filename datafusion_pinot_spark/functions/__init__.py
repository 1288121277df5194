"""Reusable column-expression helpers (all JVM-side built-ins — no Python
UDFs in the hot path; SURVEY.md §2.8 notes the reference exposes scalar
functions purely via its SQL engine, as we do via pyspark.sql.functions)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\s+"


def as_double_array(col) -> Column:
    """array<float> → array<double> (exact widening) for stable math."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a, b) -> Column:
    """Cosine similarity of two array<double> columns (0 when either is 0)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def tokens(text_col) -> Column:
    """Lower-cased whitespace tokens; empty text → empty array."""
    trimmed = F.trim(F.lower(text_col))
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, TOKEN_PATTERN)
    )


def word_shingles(tokens_col, n: int = 3) -> Column:
    """Distinct n-gram word shingles of a token array (space-joined).

    Fewer than n tokens → empty array (NB: Spark's sequence(0, -1) counts
    *down*, so the short case must be guarded explicitly)."""
    shingled = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(tokens_col) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokens_col, i + k + 1) for k in range(n)]
            ),
        )
    )
    return F.when(F.size(tokens_col) < n, F.array().cast("array<string>")).otherwise(
        shingled
    )


def money(col) -> Column:
    """Exact decimal representation of a money/quantity double. Aggregating
    decimals (not doubles) makes SUM order-independent and bit-identical
    across engines — the basis of the DuckDB-oracle comparison."""
    if isinstance(col, str):
        col = F.col(col)
    return col.cast("decimal(18,2)")


def davg(col, scale: int = 4) -> Column:
    """AVG as exact-decimal sum / count, rounded — engine-stable."""
    return F.round(
        (F.sum(money(col)).cast("double") / F.count(col)), scale
    )


def zorder_key(cols, bits: int = 8) -> Column:
    """Morton (Z-order) key: bit-interleave the low ``bits`` bits of each
    column so that sorting by the key clusters rows in ALL dimensions at
    once. Written segments then carry tight per-segment min/max on every
    interleaved column, so zone maps prune multi-dimensional range
    predicates — including predicates that touch only the second or third
    dimension, where a single-column sort layout prunes nothing.

    Pure integer Column arithmetic (shift/and/or), whole-stage-codegen
    friendly; ``bits * len(cols)`` must fit a LONG (<= 63).
    """
    if bits * len(cols) > 63:
        raise ValueError("zorder_key: bits * len(cols) must be <= 63")
    z = F.lit(0).cast("long")
    n = len(cols)
    for i in range(bits):
        for j, c in enumerate(cols):
            if isinstance(c, str):
                c = F.col(c)
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n + j)
    return z

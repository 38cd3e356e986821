"""Distance / vector Column expressions.

Reference parity: squared Euclidean distance, no sqrt
(``distance`` at kmeans_mapreduce_core.cu:8-17).  The reference does it on
uint64 pairs; we generalize to doubles and to n-D ``array<double>``
columns so the same expression covers the 64-dim embeddings table.

Everything here is a pure Column expression: JVM-side, inside
whole-stage codegen, no Python in the loop.  ``F.zip_with`` /
``F.aggregate`` are higher-order functions evaluated by Catalyst, not UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: Column | str, b: Column | str) -> Column:
    a, b = _c(a), _c(b)
    return F.aggregate(
        F.zip_with(a, b, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
    )


def dot_product_sql(a: str, b: str, dim: int) -> str:
    """Generated SQL text for the dot product of two array<double>
    columns of KNOWN length -- the per-PAIR hot path of within-bucket
    similarity joins, where the interpreted-per-element HOF fold is the
    dominant cost (measured: the word_shingles/char_entropy lesson,
    NOTES.md).  The text parses to a left-associated add chain
    ``t1 + t2 + ...`` which is bit-identical to the HOF fold
    ``((0.0 + t1) + t2) + ...`` because ``0.0 + t1 == t1`` exactly in
    IEEE double, so oracle hashes do not move.  ONE edge: t1 = -0.0
    yields +0.0 under the old fold but -0.0 in this chain -- the
    identity holds for every value EXCEPT the sign of a negative-zero
    total.  Harmless in current consumers (all-zero dot products are
    filtered by the cosine threshold before output), but a future
    consumer emitting unfiltered dot products must not rely on
    unconditional bit-identity of the zero's sign.  Rendered as SQL
    text, never Column-API loops, per the >100-node rule (NOTES.md)."""
    assert dim >= 1, (
        f"dot_product_sql: dim must be >= 1, got {dim} (an empty join "
        "would otherwise surface as an opaque ParseException on the "
        "empty SQL string far from the cause)"
    )
    return " + ".join(
        f"element_at({a}, {i}) * element_at({b}, {i})"
        for i in range(1, dim + 1)
    )


def l2_norm(a: Column | str) -> Column:
    a = _c(a)
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a| * |b|); computed in double precision.

    Zero-norm guard via nullif (the int8_cosine precedent): cosine is
    undefined for a zero vector and the session pins ANSI mode, where a
    bare division would throw DIVIDE_BY_ZERO and abort the whole
    similarity job over one degenerate embedding (code-review r10).
    NULL propagates safely through every consumer (a NULL similarity
    fails thresholds and never ranks)."""
    a, b = _c(a), _c(b)
    return dot_product(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))

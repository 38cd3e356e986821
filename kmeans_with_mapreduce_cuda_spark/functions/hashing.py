"""Deterministic, engine-portable hashing Column expressions.

Everything is built on md5 so the exact same value is computable in
ANSI SQL (DuckDB oracle): Spark ``conv(substr(md5(s),1,8),16,10)`` ==
DuckDB ``('0x' || substr(md5(s),1,8))::BIGINT``.  Spark's native
``hash()``/``xxhash64`` are faster but engine-specific; they are fine for
internal bucketing (used by dedup LSH banding at scale) but never inside
an oracle-checked value column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def md5_long(col: Column | str, salt: str = "") -> Column:
    """First 8 hex digits of md5(salt || value) as a non-negative bigint
    in [0, 2^32).  Portable to any SQL engine with md5.
    """
    s = _c(col).cast("string")
    if salt:
        s = F.concat(F.lit(salt), s)
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def md5_long_sql(expr: str, salt: str = "") -> str:
    """DuckDB twin of :func:`md5_long` as a SQL fragment."""
    inner = f"'{salt}' || CAST({expr} AS VARCHAR)" if salt else f"CAST({expr} AS VARCHAR)"
    return f"CAST(('0x' || substr(md5({inner}), 1, 8)) AS BIGINT)"


def stable_sample_key(col: Column | str, seed: int = 42) -> Column:
    """Deterministic pseudo-random ordering key for a column: replaces the
    reference's wall-clock-seeded sampler (random_num_generator.hpp:17-28,
    with its inclusive-bound off-by-one) with a seeded, reproducible,
    engine-portable order.  ``ORDER BY stable_sample_key(id), id LIMIT k``
    is a uniform-without-replacement k-sample -- the ``id`` tie-break is
    MANDATORY: keys are 32-bit, so birthday collisions are ~50% likely at
    ~77k rows and without it the order among tied rows is engine- and
    partition-dependent (every call site appends it; code-review r10).
    """
    return md5_long(col, salt=f"seed{seed}:")


#: modulus of the universal hash family: smallest prime > 2^32.
MINHASH_P = 4294967311

#: MinHash/LSH geometry, read by the dedup operators and their DuckDB
#: oracles alike -- the banding split decides which candidate pairs
#: exist, so an operator and its oracle must never hold separate copies:
#: 16 hashes in 8 bands of 2 rows over word 3-gram shingles, md5 salted
#: with the seed.
MINHASH_NUM_HASHES = 16
MINHASH_BANDS = 8
MINHASH_SHINGLE_N = 3
MINHASH_SEED = 42


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Seeded (a_i, b_i) coefficients for the affine family
    ``h_i(x) = (a_i * x + b_i) mod P``.  a_i < 2^20 keeps
    ``a_i * x`` under 2^52 -- no bigint overflow in any engine."""
    import random

    rng = random.Random(MINHASH_SEED)
    return [
        (rng.randrange(1, 1 << 20), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]

"""Pandas (vectorized) UDF examples -- the slow-path escape hatch.

The engine's rule: hot paths are Column expressions (JVM, codegen);
``@pandas_udf`` (Arrow-batched, ~10-100x faster than row-at-a-time
Python UDFs) is for logic expressions can't say.  These exist to cover
the scalar-UDF surface and to pin the equivalence contract: the test
suite asserts each UDF matches its pure-expression twin exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def punct_ratio_udf(text: pd.Series) -> pd.Series:
    """Vectorized twin of functions.text.punct_ratio.

    Twin-exactness fine print (code-review r10): the numerator uses the
    RAW length (clipping before subtracting scored empty strings as
    100% punctuation where the twin says 0.0); the regex carries the
    ``(?a)`` ASCII flag because Java's ``\\w`` is [a-zA-Z0-9_] while
    Python's default is Unicode-aware (the twin strips an accented
    letter, Python kept it); NULL text returns NULL (pd.NA), not NaN.
    """
    total = text.str.len()
    clean = text.str.replace(r"(?a)[^\w\s]", "", regex=True).str.len()
    ratio = (total - clean) / total.clip(lower=1)
    return ratio.astype("Float64").where(text.notna(), pd.NA)


@pandas_udf("int")
def token_count_udf(text: pd.Series) -> pd.Series:
    """Vectorized twin of functions.text.token_count.

    Twin-exactness fine print (code-review r10): strips SPACES only
    (SQL ``trim``; Python ``str.strip()`` also eats tabs/newlines and
    diverged on tab-edged text -- see the tokens() edge contract), and
    NULL text returns NULL via the nullable Int32 dtype (``.astype(
    "int32")`` raised IntCastingNaNError on the NaN and killed the
    job, where the expression twin just returns NULL)."""
    counts = (
        text.str.strip(" ").str.lower().str.split(r"\s+", regex=True).str.len()
    )
    return counts.astype("Int32")


@pandas_udf("double")
def median_udaf(v: pd.Series) -> float:
    """Grouped-AGGREGATE pandas UDF (the UDAF surface): per-group median.

    Arrow ships each group's column as one pandas Series; the return is
    a scalar per group.  np.median sorts and, for even counts, returns
    (a+b)/2 -- the oracle mirrors that exact formula (NOT quantile
    interpolation a+(b-a)/2, which can differ in the last ulp), so the
    value is bit-identical and hash-checkable unrounded.  Deterministic
    regardless of row arrival order because the sort is internal.
    Scale: Spark runs partial aggregation per partition only for
    JVM aggregates -- a grouped-agg UDF ships whole groups to Python
    workers, so it belongs on bounded-cardinality groups (here:
    event_type), never on data-scale keys.
    """
    import numpy as np

    arr = v.dropna().to_numpy()
    if arr.size == 0:
        return None
    return float(np.median(arr))

"""Pandas (vectorized) UDFs -- the slow-path escape hatch.

The engine's rule: hot paths are Column expressions (JVM, codegen);
``@pandas_udf`` (Arrow-batched, ~10-100x faster than row-at-a-time
Python UDFs) is for logic expressions can't say, such as the exact
per-group median below.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf


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

"""Python UDTFs (table functions): the multi-row-emit extensibility
surface.  The reference's mapper hook reserves ``NUM_PAIRS`` output
slots per input row (config.cuh:13, kmeans_mapreduce_core.cu:41-43) --
a compile-time multi-emit; a UDTF is the dynamic version: one input row
-> any number of output rows, usable from SQL's FROM clause via LATERAL.

Prefer JVM-side explode/transform for anything expressible there (see
functions.text.word_shingles); a UDTF is for genuinely imperative
row-expansion logic.  Worker-side Python, Arrow-batched when
``spark.sql.execution.pythonUDTF.arrow.enabled`` is set.
"""

from __future__ import annotations

import re

from pyspark.sql.functions import udtf
from pyspark.sql.udtf import AnalyzeResult

_WS = re.compile(r"\s+")


@udtf(returnType="pos: int, shingle: string")
class ShingleUDTF:
    """Emit (position, n-gram shingle) rows for one document's text.

    Tokenization matches functions.text.tokens (trim -> lower -> split
    on whitespace runs) so results agree with the JVM-side shingle
    expression and the DuckDB oracle.
    """

    def eval(self, text: str, n: int = 3):  # noqa: D102 (driver contract)
        if text is None:
            return
        toks = _WS.split(text.strip().lower())
        for i in range(max(len(toks) - n + 1, 0)):
            yield i, " ".join(toks[i : i + n])


@udtf
class TopTermsUDTF:
    """POLYMORPHIC UDTF: output schema computed by ``analyze`` from the
    constant ``n`` argument -- term_1..term_n plus n_distinct_terms --
    the dynamic-schema half of the UDTF surface that a fixed
    ``returnType`` (ShingleUDTF) cannot express.

    One row in -> one row out: the n most frequent whitespace tokens of
    the text (ties broken alphabetically), NULL-padded when the doc has
    fewer distinct terms.  NULL text yields NO row (the LATERAL drops
    the outer row), matching the SQL formulation where unnest of a NULL
    token array produces nothing.
    """

    @staticmethod
    def analyze(text, n):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        if not n.isConstantExpression or n.value is None:
            raise ValueError("top_terms: n must be a constant integer")
        k = int(n.value)
        if k < 1:
            raise ValueError("top_terms: n must be >= 1")
        return AnalyzeResult(
            schema=StructType(
                [StructField(f"term_{i + 1}", StringType()) for i in range(k)]
                + [StructField("n_distinct_terms", LongType())]
            )
        )

    def eval(self, text: str, n: int):  # noqa: D102 (driver contract)
        if text is None:
            return
        from collections import Counter

        counts = Counter(_WS.split(text.strip().lower()))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:n]
        terms = [t for t, _ in top] + [None] * (n - len(top))
        yield (*terms, len(counts))


@udtf(
    returnType="user_id: bigint, n_events: bigint, n_sessions: bigint, "
    "span_s: bigint"
)
class GapSessionsUDTF:
    """TABLE-argument UDTF consumed as ``gap_sessions(TABLE(...)
    PARTITION BY user_id ORDER BY ts, event_id)`` -- the third UDTF
    surface: scalar-arg LATERAL (ShingleUDTF), polymorphic analyze
    (TopTermsUDTF), and now partitioned table input, where Spark feeds
    whole ordered partitions through ``eval`` and the function keeps
    running state across rows instead of per-row arguments.

    Counts 30-min-gap sessions per user in one ordered pass (the gap
    rule of rel_sessionize_batch): a row
    strictly more than 30 minutes after its predecessor starts a new
    session.  State is O(1) per partition -- no row buffering -- so one
    user's history never accumulates in worker memory.  Key changes are
    handled in ``eval`` (flush-and-reset) rather than assuming one
    instance per key, so the logic is correct under any
    partition-to-instance assignment as long as rows arrive grouped by
    key and ordered within it, which PARTITION BY ... ORDER BY
    guarantees.  All arithmetic is integer/timedelta-exact (no float
    seconds): span_s is the floor of the first->last microsecond span.
    """

    #: "no group open yet" sentinel -- distinct from None so a NULL
    #: partition key is a real group, not a skipped initialization.
    _UNSET = object()

    def __init__(self):
        from datetime import timedelta

        self._gap = timedelta(minutes=30)
        self._uid = self._UNSET
        self._n = 0
        self._sessions = 0
        self._first = None
        self._prev = None

    def _row(self):
        td = self._prev - self._first
        micros = (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds
        return (self._uid, self._n, self._sessions, micros // 1_000_000)

    def eval(self, row):  # noqa: D102 (driver contract)
        uid, ts = row["user_id"], row["ts"]
        if uid != self._uid:
            if self._uid is not self._UNSET:
                yield self._row()
            self._uid, self._n, self._sessions = uid, 0, 1
            self._first, self._prev = ts, ts
        self._n += 1
        if ts - self._prev > self._gap:
            self._sessions += 1
        self._prev = ts

    def terminate(self):  # noqa: D102 (driver contract)
        # Reset after flushing so the flush is idempotent: a runtime
        # that calls terminate() per partition and reuses the instance
        # must not re-emit the last group (round-7 advisor finding;
        # current Spark recreates the instance, so this is belt-and-
        # braces for the documented "any assignment" claim).
        if self._uid is not self._UNSET:
            row = self._row()
            self._uid = self._UNSET
            yield row


def register_udtfs(spark) -> None:
    """Register all table functions on the session (idempotent)."""
    spark.udtf.register("shingles", ShingleUDTF)
    spark.udtf.register("top_terms", TopTermsUDTF)
    spark.udtf.register("gap_sessions", GapSessionsUDTF)

"""Text-analysis Column expressions for the documents table: tokenizing,
shingling, quality metrics, language-ID heuristics.  All JVM-side
(split / regexp / higher-order functions) -- no Python UDFs, so they
whole-stage-codegen and scale linearly with input bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny multilingual stopword lists for the heuristic language ID.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
    "de": ["der", "die", "und", "das", "in", "von", "zu", "mit", "den", "ist"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed, lower-cased text -> array<string>.

    Edge contract (identical in Spark and the DuckDB oracles, which use
    the same trim+regexp_split formula): ``trim`` strips only SPACE
    characters in both engines, so a doc whose residue is tabs/newlines
    splits into empty-string edge tokens (e.g. "\\t\\n" -> ["", ""]) and
    an empty doc yields [""] -- degenerate docs therefore have token
    counts of 1-2, never null.  Quality gates should filter on length
    first (as pipe_corpus_clean does) rather than token count alone."""
    return F.split(F.trim(F.lower(_c(text))), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """n-gram word shingles as strings: array of ``w_i w_i+1 ... w_i+n-1``
    in position order.

    One regex pass: normalize whitespace runs to single spaces, then a
    zero-width token-start anchor with a lookahead capture pulls every
    OVERLAPPING n-token window.  ~7x faster than the equivalent
    TRANSFORM(sequence) + SLICE + ARRAY_JOIN higher-order expression
    (HOF lambdas evaluate interpreted, per element, with boxing --
    measured 3.2 s -> 0.45 s for the sf0.1 shingle explode); short docs
    yield an empty array.
    """
    norm = F.regexp_replace(F.trim(F.lower(_c(text))), r"\s+", " ")
    pat = r"(?:^|(?<= ))(?=(\S+" + r"(?: \S+)" * (n - 1) + r"))"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


#: Seeded integer weight table (milli-units) for the 16 hash buckets of
#: the hashed linear quality classifier -- a stand-in for trained
#: fastText-style weights; integer so the per-doc sum is exact and
#: order-free in every engine.
QC_WEIGHTS = [((b * 2654435761 + 12345) % 997) - 498 for b in range(16)]

#: md5 salt of the classifier's token hashes, shared with the DuckDB
#: oracles of every query that scores with it.
QC_SALT = "qc:"


def hashed_linear_margin(text: Column | str) -> Column:
    """Integer margin of a hashed linear classifier: each token hashes
    (md5, engine-portable) into one of the ``QC_WEIGHTS`` buckets and the
    bucket's milli-weight is summed -- an exact bigint fold, so the
    value is reproducible regardless of evaluation order.  Normalize
    with ``margin / (1000.0 * size(tokens(text)))`` for a mean score;
    the division is a single IEEE op and stays bit-identical across
    engines (see pipe_quality_classifier).
    """
    n = len(QC_WEIGHTS)
    warr = F.array(*[F.lit(w) for w in QC_WEIGHTS])

    def bucket_weight(tok: Column) -> Column:
        b = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(QC_SALT), tok)), 1, 8), 16, 10
            ).cast("bigint")
            % n
        )
        return F.element_at(warr, (b + 1).cast("int")).cast("bigint")

    return F.aggregate(
        tokens(text),
        F.lit(0).cast("bigint"),
        lambda acc, tok: acc + bucket_weight(tok),
    )


def quality_score_cols(text_col: Column | str = "text") -> list[Column]:
    """The hashed-linear classifier's output columns, shared by the
    pipe_quality_classifier gate query and the curate CLI so the two
    can never drift: (n_tokens bigint, score double, keep boolean).
    Score is the UNROUNDED mean margin (see hashed_linear_margin)."""
    m = hashed_linear_margin(text_col)
    n_tok = F.size(tokens(text_col))
    return [
        n_tok.cast("bigint").alias("n_tokens"),
        (m / (1000.0 * n_tok)).alias("score"),
        (m > 0).alias("keep"),
    ]

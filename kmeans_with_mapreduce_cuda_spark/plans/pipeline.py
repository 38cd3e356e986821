"""LLM-training-data pipeline queries (the north-star extensions in
BASELINE.json): deduplication, similarity search, text analysis over the
``documents`` / ``embeddings`` tables.  Each has a DuckDB oracle where
SQL-expressible; scale notes in each docstring.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_long_sql
from ..functions.text import STOPWORDS, tokens
from ..operators.dedup import simhash16_sql, token_hashes_sql
from ..sources.readers import load_table
from . import registry
from .registry import query


def _drain_timeout() -> int:
    """Streaming-drain budget in seconds.  120 s covers every gate
    fixture with wide margin; scale probes (10M+ events through
    stateful joins) override via SPARK_GRAFT_DRAIN_TIMEOUT without
    touching gate behavior.  Validated here once so a malformed value
    fails with a message naming the variable, not a bare ValueError."""
    raw = os.environ.get("SPARK_GRAFT_DRAIN_TIMEOUT", "120")
    try:
        val = int(raw)
    except ValueError as exc:
        raise ValueError(
            "SPARK_GRAFT_DRAIN_TIMEOUT must be an integer number of "
            f"seconds, got {raw!r}"
        ) from exc
    if val <= 0:
        # awaitTermination(0) raises a bare VALUE_NOT_POSITIVE naming
        # only 'timeout' -- exactly the variable-less error this helper
        # exists to prevent.
        raise ValueError(
            "SPARK_GRAFT_DRAIN_TIMEOUT must be a positive number of "
            f"seconds, got {raw!r}"
        )
    return val


def _await_drain(q, what: str) -> None:
    """availableNow drain under the validated timeout; ALWAYS stops the
    query (stop is idempotent after natural termination, so a success
    path never leaks a stream either).  The one shared copy of the
    await/timeout/stop block for every streaming gate query."""
    try:
        drain_s = _drain_timeout()
        if not q.awaitTermination(drain_s):
            raise TimeoutError(
                f"{what} did not finish availableNow drain in {drain_s}s"
            )
    finally:
        q.stop()


def _eager(
    spark: SparkSession, df: DataFrame, deps: list[DataFrame] | None = None
) -> DataFrame:
    """Materialize a SMALL result and release its cached dependencies.

    Queries that persist an intermediate (self-join inputs) would leak
    cached partitions across repeated gate/bench invocations in one
    session if they returned lazily; collecting here lets us unpersist
    deterministically.  Only for results known to be small (candidate
    pair sets, centroid tables) -- never for data-scale outputs.  Deps
    are passed EXPLICITLY (operators return them, e.g.
    ``dedup.LshPairs.deps``) -- an attribute stapled to a DataFrame
    would silently vanish on any downstream transformation.
    """
    deps = list(deps or [])
    try:
        rows = df.collect()
    finally:
        for dep in deps:
            dep.unpersist()
    return spark.createDataFrame(rows, df.schema)


# --- Exact deduplication -----------------------------------------------------

@query(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
    FROM documents GROUP BY md5(text) HAVING count(*) > 1
    """,
    doc="Exact dedup, group view: content-hash duplicate groups with the "
    "kept (min doc_id) canonical row.  Hash-groupBy shuffles 16-byte "
    "digests, never document bodies -- the pattern that survives 100 TB.",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
        )
        .where(F.col("n_copies") > 1)
    )


@query(
    "dedup_exact_keep",
    oracle="""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
    doc="Exact dedup, survivor view: keep the lowest doc_id per content "
    "hash (deterministic canonical selection -- dropDuplicates() keeps an "
    "arbitrary row, so we use the explicit window formulation).",
)
def dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


# --- N-gram Jaccard near-dedup ----------------------------------------------

#: DuckDB expression for the distinct 3-gram word-shingle LIST of a
#: ``toks`` array column -- THE single definition of the oracle-side
#: shingle recipe (twin of functions.text.word_shingles(n=3) +
#: array_distinct).  Composed by dedup_ngram_jaccard, _minhash_sql, and
#: _minhash_verified_sql; any edit here changes all three oracles
#: together, matching the one Spark-side definition.
_SHINGLE_LIST_EXPR = """list_distinct([
            list_aggregate(toks[i:i+2], 'string_agg', ' ')
            FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)
        ])"""

_SHINGLE_SQL = f"""
        SELECT doc_id, unnest({_SHINGLE_LIST_EXPR}) AS shingle
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents WHERE doc_id < 300)
"""

@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    pair_overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pair_overlap
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
    """,
    doc="Near-dup detection: exact 3-gram-shingle Jaccard >= 0.2 over "
    "candidate pairs that share a shingle (explode -> self-equi-join -> "
    "count).  This is the exact oracle the MinHash/LSH path approximates; "
    "restricted to doc_id < 300 because all-pairs is quadratic -- at scale "
    "use dedup_minhash_lsh.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    sh = F.array_distinct(word_shingles("text", 3))
    # Materialize the per-doc shingle array ONCE: three consumers (both
    # join sides + sizes) would otherwise each re-run the string-heavy
    # shingle expression (and each get their own codegen compile).
    # The count() is required, not just persist(): the first consuming
    # job's branches race on the cold cache and recompute per branch
    # (r10, the minhash_lsh_pairs finding).  Unpersisted via _eager
    # below -- the pair set is tiny.
    arrs = d.select("doc_id", sh.alias("_sh")).persist()
    arrs.count()
    shingles = arrs.select("doc_id", F.explode("_sh").alias("shingle"))
    sizes = arrs.select("doc_id", F.size("_sh").alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("inter")
    )
    out = (
        overlap.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= 0.2)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    return _eager(spark, out, deps=[arrs])


@query(
    "dedup_containment",
    oracle=f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    pair_overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / sa.n AS contain_a,
           CAST(inter AS DOUBLE) / sb.n AS contain_b
    FROM pair_overlap
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.5
    """,
    doc="Asymmetric shingle CONTAINMENT |A int B| / |A| -- the doc-in-doc "
    "detector symmetric Jaccard misses: a short doc quoted wholesale "
    "inside a long one has low Jaccard (union is huge) but containment "
    "~1 in one direction.  The training-data case is concatenated / "
    "quoted / templated documents.  Same candidate generation as "
    "dedup_ngram_jaccard (shared-shingle equi-join, doc_id < 300 exact "
    "slice -- at scale the LSH paths generate the candidates); emits "
    "both directions, keeps pairs where the smaller side is >= 50% "
    "contained.  contain_a/contain_b are single IEEE divisions of "
    "exact integers, bit-identical across engines (unrounded per the "
    "float policy).",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    sh = F.array_distinct(word_shingles("text", 3))
    # persist + eager count: cold-cache race across the consumer job's
    # branches (dedup_ngram_jaccard comment; r10)
    arrs = d.select("doc_id", sh.alias("_sh")).persist()
    arrs.count()
    shingles = arrs.select("doc_id", F.explode("_sh").alias("shingle"))
    sizes = arrs.select("doc_id", F.size("_sh").alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    res = (
        overlap.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(
            F.col("inter").cast("double")
            / F.least(F.col("sa.n"), F.col("sb.n"))
            >= 0.5
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter").cast("double") / F.col("sa.n")).alias("contain_a"),
            (F.col("inter").cast("double") / F.col("sb.n")).alias("contain_b"),
        )
    )
    return _eager(spark, res, deps=[arrs])


# --- Blocked fuzzy matching (edit-distance entity resolution) -----------------

@query(
    "dedup_fuzzy_blocked",
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               substr(lower(text), 1, 64) AS s64,
               substr(lower(text), 1, 16) AS blk
        FROM documents
    ),
    ok AS (SELECT blk FROM n GROUP BY blk HAVING count(*) <= 64),
    b AS (SELECT n.* FROM n JOIN ok USING (blk))
    SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
           CAST(bb.doc_id AS BIGINT) AS doc_b,
           CAST(levenshtein(a.s64, bb.s64) AS BIGINT) AS lev
    FROM b a JOIN b bb ON a.blk = bb.blk AND a.doc_id < bb.doc_id
    WHERE levenshtein(a.s64, bb.s64) <= 8
    """,
    doc="Entity-resolution-style fuzzy matching: block on the 16-char "
    "normalized prefix, pair within blocks, verify with Levenshtein "
    "edit distance <= 8 over the 64-char prefix.  Character-level edit "
    "distance catches typo-class near-dups that token-set methods "
    "(Jaccard/MinHash) miss, at O(pairs-in-block) instead of all-pairs."
    "  Scale shape: the block key is an equi-join (never a cross "
    "join); blocks larger than 64 members are dropped by a broadcast "
    "anti-join BEFORE pairing (the same hot-bucket cap contract as the "
    "LSH paths, mirrored in the oracle so both engines see identical "
    "pairs); Spark evaluates the bounded 3-arg levenshtein, whose "
    "banded DP costs O(threshold * len) per pair instead of O(len^2).",
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = F.lower(F.col("text"))
    docs = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.substring(s, 1, 64).alias("s64"),
        F.substring(s, 1, 16).alias("blk"),
    )
    hot = (
        docs.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 64)
        .select("blk")
    )
    blocked = docs.join(F.broadcast(hot), "blk", "left_anti")
    a, b = blocked.alias("a"), blocked.alias("b")
    lev = F.levenshtein(F.col("a.s64"), F.col("b.s64"), 8)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.cast("bigint").alias("lev"),
        )
        .where(F.col("lev") >= 0)  # 3-arg levenshtein: -1 == over threshold
    )


@query(
    "dedup_cdc_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    words AS (
        SELECT doc_id, u.pos AS pos, u.w AS w,
               CASE WHEN CAST(('0x' || substr(md5('cdc:' || u.w), 1, 8))
                         AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS b
        FROM (
            SELECT doc_id,
                   unnest([{'pos': i, 'w': toks[i]}
                           FOR i IN range(1, len(toks) + 1)]) AS u
            FROM toks
        )
    ),
    numbered AS (
        SELECT doc_id, pos, w,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
        FROM words
    ),
    chunks AS (
        SELECT doc_id, chunk_no,
               md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
        FROM numbered GROUP BY doc_id, chunk_no
    ),
    per_doc_hash AS (
        SELECT chunk_hash, doc_id, count(*) AS n_occ
        FROM chunks GROUP BY chunk_hash, doc_id
    ),
    docs_per_hash AS (
        SELECT chunk_hash, count(*) AS n_docs
        FROM per_doc_hash GROUP BY chunk_hash
    )
    SELECT p.doc_id,
           CAST(SUM(p.n_occ) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN p.n_occ ELSE 0 END)
                AS BIGINT) AS dup_chunks,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN p.n_occ ELSE 0 END)
                AS DOUBLE) / CAST(SUM(p.n_occ) AS BIGINT) AS dup_ratio
    FROM per_doc_hash p JOIN docs_per_hash d USING (chunk_hash)
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
    doc="Passage-level exact dedup via CONTENT-DEFINED chunking: a token "
    "opens a new chunk when md5('cdc:'||w) %% 8 == 0, so boundaries track "
    "content (insertion-robust, unlike fixed windows); per-doc duplicated-"
    "chunk counts/ratio where a chunk is dup when its exact text occurs in "
    ">=2 docs.  One token-stream exchange (doc-partitioned prefix-sum "
    "window, sessionize shape) then digest-only shuffles.  "
    "operators/dedup.py:cdc_chunk_stats.",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cdc_chunk_stats

    d = load_table(spark, sf_dir, "documents")
    return cdc_chunk_stats(d).orderBy("doc_id")


# --- Text analysis -----------------------------------------------------------

@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS INTEGER)
               AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(length(text) AS DOUBLE)
               / len(regexp_split_to_array(trim(lower(text)), '\\s+'))
               AS chars_per_token
    FROM documents
    """,
    doc="Token counting: whitespace tokenization, chars-per-token ratio. "
    "Pure string expressions -- codegen'd, linear in input bytes.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nt = F.size(tokens("text"))
    return d.select(
        "doc_id",
        nt.alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        (F.length("text").cast("double") / nt).alias("chars_per_token"),
    )


_SW = STOPWORDS["en"]
_SW_SQL = ", ".join(f"'{w}'" for w in _SW)

@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
               CAST(length(text) AS DOUBLE) AS len,
               CAST(length(regexp_replace(text, '[^a-zA-Z0-9_ \\t\\n]', '', 'g'))
                    AS DOUBLE) AS len_clean
        FROM documents
    )
    SELECT doc_id,
           1.0 - len_clean / len AS punct_ratio,
           CAST(len(list_filter(toks, w -> list_contains([{_SW_SQL}], w)))
                AS DOUBLE) / greatest(len(toks), 1) AS stopword_ratio,
           CAST(len < 100 OR len > 20000 AS BOOLEAN) AS len_flag
    FROM t
    """,
    doc="Quality scoring: punctuation ratio, English-stopword ratio, "
    "length flag -- the heuristic pre-filters of a training-data pipeline.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    ln = F.length("text").cast("double")
    ln_clean = F.length(
        F.regexp_replace("text", r"[^a-zA-Z0-9_ \t\n]", "")
    ).cast("double")
    sw = F.array(*[F.lit(w) for w in _SW])
    sw_hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return d.select(
        "doc_id",
        (F.lit(1.0) - ln_clean / ln).alias("punct_ratio"),
        (
            sw_hits.cast("double") / F.greatest(F.size(toks), F.lit(1))
        ).alias("stopword_ratio"),
        ((ln < 100) | (ln > 20000)).alias("len_flag"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, w -> list_contains([{words}], w)))"


@query(
    "text_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang AS lang_actual,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang_actual,
               {_lang_score_sql('en')} AS s_en, {_lang_score_sql('es')} AS s_es,
               {_lang_score_sql('de')} AS s_de, {_lang_score_sql('fr')} AS s_fr
        FROM t
    )
    SELECT doc_id, lang_actual,
           CASE greatest(s_en, s_es, s_de, s_fr)
               WHEN s_en THEN 'en' WHEN s_es THEN 'es'
               WHEN s_de THEN 'de' ELSE 'fr' END AS lang_pred
    FROM scored
    """,
    doc="Heuristic language ID: stopword-hit scoring per candidate "
    "language, argmax with a fixed tie order (en > es > de > fr).",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")

    def score(lang: str):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    s = {lang: score(lang) for lang in ("en", "es", "de", "fr")}
    best = F.greatest(*s.values())
    pred = (
        F.when(s["en"] == best, "en")
        .when(s["es"] == best, "es")
        .when(s["de"] == best, "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id", F.col("lang").alias("lang_actual"), pred.alias("lang_pred")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
    doc="Document fingerprint: md5 of whitespace-normalized, lower-cased "
    "text -- the canonical-form hash used for fuzzy-exact dedup.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


# --- N-gram frequency ---------------------------------------------------------

@query(
    "text_ngram_freq",
    oracle="""
    WITH grams AS (
        SELECT unnest([
            list_aggregate(toks[i:i+1], 'string_agg', ' ')
            FOR i IN range(1, greatest(len(toks) - 1, 0) + 1)
        ]) AS gram
        FROM (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents)
    )
    SELECT gram, n, rank FROM (
        SELECT gram, CAST(count(*) AS BIGINT) AS n,
               ROW_NUMBER() OVER (ORDER BY count(*) DESC, gram) AS rank
        FROM grams GROUP BY gram
    ) WHERE rank <= 20
    """,
    doc="Corpus-level top-20 word bigrams: explode shingles -> count -> "
    "deterministic top-k ((count desc, gram) tie order).  The shuffle "
    "carries (gram, partial count) pairs -- map-side combine keeps it "
    "bounded by vocabulary, not corpus size.  Top-k is orderBy+limit, "
    "which Spark compiles to TakeOrderedAndProject (per-partition "
    "top-20, tiny driver merge) -- the full vocabulary never collapses "
    "onto one task; the rank window then touches only the 20 survivors.",
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(F.explode(word_shingles("text", 2)).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "gram").limit(20)
    w = Window.orderBy(F.col("n").desc(), "gram")
    return top.withColumn("rank", F.row_number().over(w))


# --- MLlib library layer (rows-only: engine-internal init/iteration) ----------

@query(
    "kmeans_mllib_sizes",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_clusters,
           TRUE AS all_positive,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS total_n
    """,
    doc="Library layer: MLlib KMeans (k=8, seeded, k-means|| init) over "
    "the embeddings table.  Engine-internal RNG makes the raw sizes "
    "non-oracle-expressible, so the gate checks the engine-portable "
    "CLAIM: the model yields exactly k non-empty clusters whose sizes "
    "sum to the table's row count (a complete partition of N -- the "
    "total is computed from the data in BOTH engines, not a literal).  "
    "Aggregated to ONE row (round-3 advice): if a fixture regeneration "
    "ever makes max_iter=2 MLlib produce an empty cluster, the failure "
    "surfaces as a readable n_clusters value diff, not an opaque "
    "cardinality mismatch.  The DataFrame-primitive path covers the "
    "value-checked equivalent (o04/o09), and test_kmeans_mllib asserts "
    "SSE parity between the two implementations.",
)
def kmeans_mllib_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans_mllib import fit_kmeans, predict_kmeans

    e = load_table(spark, sf_dir, "embeddings")
    # max_iter=2: gate-budget instance; convergence quality is asserted
    # by test_kmeans_mllib's SSE parity, not this partition check
    res = fit_kmeans(e, k=8, max_iter=2, seed=42)
    pred = predict_kmeans(res.model, e)
    sizes = pred.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    # groupBy over predictions only yields non-empty clusters, so
    # count(*) == 8 IS the "no empty cluster" claim
    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.min("n") > 0).alias("all_positive"),
        F.sum("n").alias("total_n"),
    )


@query(
    "kmeans_bisecting_sizes",
    oracle="""
    SELECT TRUE AS k_in_range,
           TRUE AS all_positive,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS total_n,
           TRUE AS cost_below_global_sse
    """,
    doc="Library layer #2: MLlib BisectingKMeans (hierarchical DIVISIVE "
    "clustering -- recursively split the worst cluster, the algorithm "
    "family the SemDeDup recursive pass hand-rolls one level of) over "
    "the embeddings table, seeded.  Engine-internal splitting order "
    "makes raw sizes non-oracle-expressible, so the gate checks the "
    "kmeans_mllib_sizes CLAIM set -- adapted to bisecting semantics: "
    "BisectingKMeans treats k as a MAXIMUM (an unsplittable leaf "
    "yields fewer clusters, r8 advice), so the claim is 1 < "
    "n_clusters <= 8 (splitting happened, never over-split), all "
    "non-empty, partitioning all N rows -- plus a quality floor: the "
    "model's training cost (sum of squared distances to assigned "
    "centers) must beat the 1-cluster solution (exact SSE around the "
    "global mean, computed from the data Spark-side), i.e. splitting "
    "must actually help.  One row out; a claim break surfaces as a "
    "readable boolean diff.  An EMPTY embeddings table raises the "
    "documented readable error (the sim_pq_adc model-fit precedent) "
    "instead of a TypeError from None moment sums.",
)
def kmeans_bisecting_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import BisectingKMeans
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    # Exact 1-cluster SSE via expanded moments: sum(|x|^2) - |sum x|^2/n
    # per dimension, all from the data -- no model involved.  Computed
    # BEFORE the fit so an empty table fails the readable guard below
    # rather than inside MLlib.
    dim = 64
    proj = e.selectExpr(
        *[
            f"CAST(embedding[{i}] AS DOUBLE) AS _f{i}"
            for i in range(dim)
        ]
    )
    agg = proj.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"_f{i}").alias(f"s{i}") for i in range(dim)],
        *[F.sum(F.col(f"_f{i}") * F.col(f"_f{i}")).alias(f"q{i}") for i in range(dim)],
    ).first()
    n = agg["n"]
    if not n:
        raise RuntimeError(
            "kmeans_bisecting_sizes: embeddings table at "
            f"{sf_dir!r} is empty -- a divisive clustering fit and the "
            "1-cluster SSE are both undefined on zero rows"
        )
    global_sse = sum(
        agg[f"q{i}"] - (agg[f"s{i}"] ** 2) / n for i in range(dim)
    )
    feats = e.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
    )
    model = BisectingKMeans(k=8, maxIter=2, seed=42).fit(feats)
    cost = model.summary.trainingCost
    pred = model.transform(feats).select(
        F.col("prediction").alias("cluster_id")
    )
    sizes = pred.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        # k is a MAX for bisecting: claim (1, 8] rather than pinning 8
        ((F.count(F.lit(1)) > 1) & (F.count(F.lit(1)) <= 8)).alias(
            "k_in_range"
        ),
        (F.min("n") > 0).alias("all_positive"),
        F.sum("n").alias("total_n"),
        F.lit(bool(cost <= global_sse)).alias("cost_below_global_sse"),
    )


@query(
    "dedup_minhash_mllib",
    oracle=f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    pair_overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
        SELECT doc_a, doc_b
        FROM pair_overlap
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS recall_ge_half
    FROM exact
    """,
    doc="Library-layer MinHash twin (the kmeans_mllib pattern applied to "
    "dedup): MLlib HashingTF (binary, 2^18 features) + MinHashLSH "
    "(8 tables, seed 42) approxSimilarityJoin at Jaccard distance 0.5 "
    "over the doc_id<300 slice.  MLlib's hash family is not "
    "SQL-replicable, so the checkable face is a CLAIM row computed "
    "INSIDE Spark against its own exact-Jaccard twin (the "
    "dedup_ngram_jaccard framing at threshold 0.5): the oracle "
    "re-derives n_exact_pairs from the data and asserts the library "
    "path recovers >= half of them.  Unlike the hard-coded "
    "kmeans_mllib_sizes claim, every value here is data-derived.",
)
def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from ..functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    # persist: the string-heavy shingle extraction has ~6 consumers in
    # this DAG (both approxSimilarityJoin sides, both exact-join sides,
    # sizes x2) -- same rationale as dedup_ngram_jaccard's persist;
    # released via _eager(deps) below.
    arrs = (
        d.select(
            "doc_id", F.array_distinct(word_shingles("text", 3)).alias("sh")
        )
        .where(F.size("sh") > 0)
        .persist()
    )
    # eager cache fill before the ~6-branch consumer DAG (r10, the
    # minhash_lsh_pairs cold-cache-race finding)
    arrs.count()
    feat = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(arrs)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feat)
    pairs = (
        model.approxSimilarityJoin(feat, feat, 0.5, distCol="jd")
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    # exact twin at sim >= 0.5 (jaccard distance <= 0.5), same framing
    # as dedup_ngram_jaccard
    shingles = arrs.select("doc_id", F.explode("sh").alias("shingle"))
    sizes = arrs.select("doc_id", F.size("sh").alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("inter")
    )
    exact = (
        overlap.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= 0.5)
        .select("doc_a", "doc_b")
    )
    hits = exact.join(pairs, ["doc_a", "doc_b"], "left_semi")
    out = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("_h"))
    ).select(
        "n_exact_pairs",
        (
            F.col("_h").cast("double")
            >= 0.5 * F.col("n_exact_pairs").cast("double")
        ).alias("recall_ge_half"),
    )
    return _eager(spark, out, deps=[arrs])


# --- MinHash + LSH near-dedup (md5-based, fully oracle-checkable) ------------

def _minhash_sql(num_hashes: int = 16, bands: int = 8, seed: int = 42) -> str:
    from ..functions.hashing import MINHASH_P, minhash_params
    from ..operators.dedup import MAX_BAND_BUCKET

    r = num_hashes // bands
    params = minhash_params(num_hashes, seed)
    base = (
        f"CAST(('0x' || substr(md5('mh{seed}:' || s), 1, 8)) AS BIGINT)"
    )
    h_cols = ", ".join(
        f"list_min([ ({a} * {base} + {b}) % {MINHASH_P} FOR s IN shingles ]) AS h{j}"
        for j, (a, b) in enumerate(params)
    )
    # The hot-bucket skew cap (operators/dedup.py minhash_lsh_pairs:
    # band keys held by > MAX_BAND_BUCKET docs are excluded) is part of
    # the QUERY CONTRACT and must be mirrored here, exactly like
    # dedup_fuzzy_blocked's block cap.  It never fires at the gate
    # scales (bucket max ~120 at 10x), so an uncapped oracle passes
    # there -- but the 100x verbatim-duplication probe pushed buckets
    # past 1000 and caught the asymmetry as a 4.6% pair-count gap.
    # Keyed per band on the band's own h-columns, count <= cap kept --
    # identical integer predicate in both engines at any scale.  The
    # AS MATERIALIZED hints keep DuckDB from inlining sig into each of
    # the 2*bands references (the rel_pagerank CTE lesson).

    def band_key(alias: str, b: int) -> str:
        return " AND ".join(
            f"{alias}.h{b * r + j} = k{b}.h{b * r + j}" for j in range(r)
        )

    kept_ctes = ", ".join(
        f"k{b} AS MATERIALIZED (SELECT "
        + ", ".join(f"h{b * r + j}" for j in range(r))
        + ", count(*) AS n FROM sig GROUP BY "
        + ", ".join(f"h{b * r + j}" for j in range(r))
        + f" HAVING count(*) <= {MAX_BAND_BUCKET})"
        for b in range(bands)
    )
    band_arms = " UNION ALL ".join(
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b ON "
        + " AND ".join(f"a.h{b * r + j} = b.h{b * r + j}" for j in range(r))
        + " AND a.doc_id < b.doc_id"
        + f" JOIN k{b} ON {band_key('a', b)}"
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id, {_SHINGLE_LIST_EXPR} AS shingles FROM toks
    ),
    sig AS MATERIALIZED (SELECT doc_id, {h_cols} FROM sh WHERE len(shingles) > 0),
    {kept_ctes},
    cand AS ({band_arms}),
    pairs AS (SELECT DISTINCT doc_a, doc_b FROM cand)
    SELECT p.doc_a, p.doc_b, round(({agree}) / {num_hashes}.0, 6) AS est_jaccard
    FROM pairs p JOIN sig a ON a.doc_id = p.doc_a JOIN sig b ON b.doc_id = p.doc_b
    """


def _minhash_verified_sql(threshold: float = 0.5) -> str:
    """Oracle for the filter-verify pattern: the LSH candidate pairs of
    :func:`_minhash_sql`, rescored with EXACT distinct-shingle Jaccard,
    kept at ``jaccard >= threshold``.  The exact jaccard is emitted
    UNROUNDED: one division of identical integers is bit-identical
    across engines (registry float discipline).

    The verify stage intersects the two distinct-shingle LISTS in-row
    (``list_intersect``), mirroring the Spark plan's ``array_intersect``
    -- cost O(candidates x shingles-per-doc), the query's own complexity
    class.  The previous unnest + equi-join + GROUP BY formulation was
    row-identical at gate scales but materialized |candidates| x
    |shingles| intermediate rows (~5e9 at the 100x probe) and out-spilled
    the disk -- the rel_asof_join oracle lesson (an oracle must share the
    query's complexity class) applied here; verified row-identical to the
    old oracle at sf0.01/sf0.1 before the swap."""
    inner = _minhash_sql()
    return f"""
    WITH est AS ({inner}),
    toks2 AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    sh2 AS MATERIALIZED (
        SELECT doc_id, {_SHINGLE_LIST_EXPR} AS shingles FROM toks2
    ),
    scored AS (
        SELECT e.doc_a, e.doc_b, e.est_jaccard,
               len(list_intersect(a.shingles, b.shingles)) AS i,
               len(a.shingles) AS na, len(b.shingles) AS nb
        FROM est e
        JOIN sh2 a ON a.doc_id = e.doc_a
        JOIN sh2 b ON b.doc_id = e.doc_b
    )
    SELECT doc_a, doc_b, est_jaccard,
           CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
    FROM scored
    WHERE CAST(i AS DOUBLE) / (na + nb - i) >= {threshold}
    """


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_sql(),
    doc="MinHash+LSH near-dup candidates: 16 md5-derived min-hashes over "
    "3-gram shingles, 8 bands x 2 rows; pairs colliding on any band, with "
    "signature-estimated Jaccard.  The self-join key is the band value -- "
    "no all-pairs comparison; md5 hashing makes the whole path "
    "reproducible in ANSI SQL (the usual MinHashLSH is engine-seeded).  "
    "The band-bucket skew cap (1000) sits far above the fixture's max "
    "bucket (12 at sf0.1), so the oracle -- which has no cap -- agrees; "
    "tests/test_skew.py exercises the cap with a synthetic hot band.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    res = minhash_lsh_pairs(d, max_bucket=1000)
    # _eager: unpersist the banded-signature cache after materializing
    # (candidate pair set is small)
    return _eager(spark, res.pairs, deps=res.deps)


@query(
    "text_simhash",
    oracle=(
        f"WITH h AS (SELECT doc_id, {token_hashes_sql('text')} AS hs "
        f"FROM documents) "
        f"SELECT doc_id, {simhash16_sql('hs')} AS simhash FROM h"
    ),
    doc="16-bit SimHash per document from md5 token hashes: bit j is the "
    "sign of the +-1 vote sum over tokens.  Near-dup docs differ in few "
    "bits; banding the 16 bits gives the LSH variant at scale.",
)
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash16_from_hashes, token_hashes

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", token_hashes("text").alias("_hs")).select(
        "doc_id", simhash16_from_hashes("_hs").alias("simhash")
    )


# --- Embedding-cosine near-dup ------------------------------------------------

@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE vec_id < 300)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
    """,
    doc="Embedding-cosine near-duplicate pairs (threshold 0.35) over a "
    "bounded id range -- the exact oracle for embedding dedup.  At scale "
    "the pair generation goes through the IVF cells (sim_ann_ivf) instead "
    "of this quadratic join.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.distance import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    emb = F.col("embedding").cast("array<double>")
    a = e.select(F.col("vec_id").alias("vec_a"), emb.alias("emb_a"))
    b = e.select(F.col("vec_id").alias("vec_b"), emb.alias("emb_b"))
    sim = cosine_similarity("emb_a", "emb_b")
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("_sim", sim)
        .where(F.col("_sim") >= 0.35)
        .select("vec_a", "vec_b", F.round("_sim", 6).alias("cos_sim"))
    )


@query(
    "pipe_corpus_clean",
    oracle=f"""
    WITH survivors AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                       AS rn
            FROM documents
        ) WHERE rn = 1
    ),
    t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
               CAST(length(text) AS BIGINT) AS len
        FROM survivors
    ),
    scored AS (
        SELECT doc_id, toks, len,
               {{'en': {_lang_score_sql('en')}, 'es': {_lang_score_sql('es')},
                 'de': {_lang_score_sql('de')}, 'fr': {_lang_score_sql('fr')}}}
                   AS s
        FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(s['en'] AS DOUBLE) / greatest(len(toks), 1)
               AS en_stopword_ratio
    FROM scored
    WHERE len BETWEEN 100 AND 20000
      AND greatest(s['en'], s['es'], s['de'], s['fr']) = s['en']
      AND s['en'] > greatest(s['es'], s['de'], s['fr'])
      AND CAST(s['en'] AS DOUBLE) / greatest(len(toks), 1) >= 0.02
    """,
    doc="End-to-end corpus cleaning -- the composition a training-data "
    "pipeline actually runs, as ONE declarative plan Catalyst optimizes "
    "whole: exact dedup (content-hash window, keep lowest doc_id) -> "
    "heuristic language ID (keep unambiguous English: en stopword hits "
    "strictly above every other language) -> length gate [100, 20000] -> "
    "fluency gate (en-stopword ratio >= 0.02) -> token count.  One "
    "shuffle (the dedup window); every filter and the scoring are "
    "narrow codegen'd projections pushed onto the scan side.",
)
def pipe_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    survivors = (
        d.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    )
    toks = tokens("text")

    def score(lang: str):
        sw = F.array(*[F.lit(wd) for wd in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    s = {lang: score(lang) for lang in ("en", "es", "de", "fr")}
    ln = F.length("text").cast("bigint")
    ratio = s["en"].cast("double") / F.greatest(F.size(toks), F.lit(1))
    return (
        survivors.where(ln.between(100, 20000))
        .where(s["en"] > F.greatest(s["es"], s["de"], s["fr"]))
        .where(ratio >= 0.02)
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            ratio.alias("en_stopword_ratio"),
        )
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
           CAST(strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS view_ts_str,
           CAST(strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS buy_ts_str,
           round(b.value, 4) AS purchase_value
    FROM events v
    JOIN events b
      ON v.user_id = b.user_id
     AND v.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > v.ts AND b.ts <= v.ts + INTERVAL 2 HOUR
    """,
    doc="Stream-stream inner join, hash-checked: purchases attributed to "
    "a prior view by the same user within 2 hours.  Watermarks on both "
    "sides + the event-time range in the join condition bound the join "
    "state (views older than watermark - window are evicted).  Inner "
    "join emission doesn't wait on the watermark, so the availableNow "
    "drain equals the batch self-join oracle exactly.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, view_purchase_attribution_stream

    return _drain_stream_to_table(
        spark,
        lambda: view_purchase_attribution_stream(
            read_events_stream(spark, sf_dir)
        ),
        "_gate_attrib_",
    )


def _lsh_oracle_sql() -> str:
    from ..operators.similarity import hyperplanes_pm1, lsh_bucket_sql

    planes = hyperplanes_pm1(dim=64, n_planes=4, seed=42)
    bucket = lsh_bucket_sql("emb", planes, one_based=True)
    cos = (
        "list_dot_product(a.emb, b2.emb)"
        " / (sqrt(list_dot_product(a.emb, a.emb))"
        " * sqrt(list_dot_product(b2.emb, b2.emb)))"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    b AS (SELECT vec_id, emb, {bucket} AS bucket FROM e)
    SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, a.bucket AS bucket,
           round({cos}, 6) AS cos_sim
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    WHERE {cos} >= 0.3
    """


@query(
    "sim_lsh_pairs",
    oracle=_lsh_oracle_sql(),
    doc="Cosine-LSH candidate pairs over the embedding column: 4 "
    "md5-derived ±1 random hyperplanes (Charikar sign sketch), vectors "
    "bucketed by their 4-bit sign signature, cosine computed only WITHIN "
    "buckets -- the LSH-banding shape for vectors, no all-pairs join.  "
    "±1 components reduce each dot product to an add/subtract chain with "
    "identical float association order in Spark and DuckDB, so the "
    "whole path (signs, buckets, candidate set, cosines) is hash-checked.",
)
def sim_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_bucket_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_pairs(e, n_planes=4, seed=42, threshold=0.3)


# --- IVF ANN (rows-only: iterative K-Means inside) ----------------------------

@query(
    "sim_ann_ivf",
    oracle="""
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(10 AS BIGINT) AS n_results,
           TRUE AS recall_ge_half
    FROM (VALUES (0), (7), (42)) t(q_id)
    """,
    doc="Approximate nearest neighbors via IVF: K-Means coarse quantizer "
    "(seeded) + per-query probing of the nearest cells, brute-force "
    "cosine only within probed cells.  The learned quantizer is "
    "non-SQL-expressible (iterative), so the gate checks the "
    "engine-portable CLAIM: each query returns exactly k results and "
    "the ANN set recovers >= 50% of the exact brute-force top-k "
    "(recall computed INSIDE Spark against its own exact twin; "
    "deterministic -- the seeded quantizer on the immutable fixtures "
    "measures 0.6-1.0 at both sf0.001 and sf0.01).  The gate instance "
    "probes 3 of 4 cells, so pruning is modest HERE; the production "
    "shape (16+ cells, nprobe a small fraction) is property-tested for "
    "recall at full size in tests/test_similarity.py.",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # Gate-budget instance (4 cells, 1 Lloyd iteration): every Lloyd
    # round recompiles the 64-dim x k distance expression, and quantizer
    # quality only affects recall -- claimed above, property-tested at
    # full size in tests/test_similarity.py.
    indexed, cents = build_ivf_index(e, n_cells=4, max_iter=1, seed=42)
    q = e.where(F.col("vec_id").isin(0, 7, 42)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    ann = ivf_topk(indexed, cents, q, k=10, nprobe=3)
    exact = brute_force_topk(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb")),
        q,
        k=10,
        features="emb",
    ).select("q_id", "vec_id", F.lit(1).alias("_hit"))
    return (
        ann.join(exact, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_results"),
            (
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))) >= 0.5 * 10
            ).alias("recall_ge_half"),
        )
    )


# --- Product quantization ANN (fully value-checked) --------------------------

def _pq_sql(m: int = 8, dsub: int = 8, k: int = 16, q_id: int = 123) -> str:
    """DuckDB twin of pq_encode + pq_adc_topk.  Every float expression
    is generated LEFT-ASSOCIATED in the same order as the Spark/Python
    side, and float->double casts are exact, so codes, packed codes and
    ADC distances are bit-identical -- a full value-hash oracle for a
    quantized-ANN path (vs the claim oracles the learned IVF needs)."""

    def sq(a_prefix: str, b_prefix: str, s: int) -> str:
        terms = []
        for d in range(dsub):
            i = s * dsub + d + 1
            a = f"CAST({a_prefix}[{i}] AS DOUBLE)"
            b = f"CAST({b_prefix}[{i}] AS DOUBLE)"
            terms.append(f"({a} - {b}) * ({a} - {b})")
        return " + ".join(terms)

    d_cols = ", ".join(
        f"{sq('e.embedding', 'c.embedding', s)} AS d{s}" for s in range(m)
    )
    min_cols = ", ".join(f"min(d{s}) AS md{s}" for s in range(m))
    code_cols = ", ".join(
        f"CAST(min(CASE WHEN dd.d{s} = mins.md{s} THEN dd.j END) AS INTEGER)"
        f" AS c{s}"
        for s in range(m)
    )
    lut_cols = ", ".join(
        f"{sq('q.qe', 'c.embedding', s)} AS l{s}" for s in range(m)
    )
    packed = " + ".join(f"CAST(c{s} AS BIGINT) * {k ** s}" for s in range(m))
    lut_joins = "\n    ".join(
        f"JOIN lut t{s} ON t{s}.j = codes.c{s}" for s in range(m)
    )
    adc = " + ".join(f"t{s}.l{s}" for s in range(m))
    return f"""
    WITH cb AS (
        SELECT CAST(vec_id AS INTEGER) AS j, embedding
        FROM embeddings WHERE vec_id < {k}
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {q_id}),
    dd AS (
        SELECT e.vec_id, c.j, {d_cols}
        FROM embeddings e CROSS JOIN cb c
    ),
    mins AS (SELECT vec_id, {min_cols} FROM dd GROUP BY vec_id),
    codes AS (
        SELECT dd.vec_id, {code_cols}
        FROM dd JOIN mins USING (vec_id) GROUP BY dd.vec_id
    ),
    lut AS (SELECT c.j, {lut_cols} FROM cb c CROSS JOIN q)
    SELECT codes.vec_id,
           CAST({packed} AS BIGINT) AS code_packed,
           {adc} AS adc_dist
    FROM codes
    {lut_joins}
    ORDER BY adc_dist, codes.vec_id LIMIT 10
    """


@query(
    "sim_pq_adc",
    oracle=_pq_sql(),
    doc="Product-quantization ANN with asymmetric distance: 64-dim "
    "vectors split into 8 subspaces x 16 deterministic codes (the "
    "embeddings of vec_id<16, sliced -- same data-derived seeding "
    "contract as the K-Means queries), encoded to 4-bit codes packed "
    "into ONE bigint (code_packed: the 8-byte serving artifact, a 32x "
    "scan/memory cut vs raw floats).  The query stays unquantized; its "
    "8x16 subspace distances are baked into the plan as literal lookup "
    "arrays, so scoring is 8 element_at lookups + 7 adds per row -- "
    "shuffle-free, join-free, TakeOrderedAndProject for the top-10.  "
    "UNROUNDED value-hash oracle: all float expressions generated "
    "left-associated identically on both engines (exact float->double "
    "casts), so codes AND distances are bit-identical -- "
    "operators/similarity.py:pq_codebooks/pq_encode/pq_adc_topk.",
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_adc_topk, pq_codebooks, pq_encode

    e = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks(e)
    q_rows = e.where(F.col("vec_id") == 123).select("embedding").collect()
    q_vec = [float(v) for v in q_rows[0][0]]
    encoded = pq_encode(e, cb)
    return pq_adc_topk(encoded, cb, q_vec, k_results=10)


# --- Multimodal binary columns -------------------------------------------------

@query(
    "mm_payload_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           'application/octet-stream' AS media_type
    FROM documents
    """,
    doc="Multimodal metadata: opaque binary payload -> typed metadata "
    "struct (byte length, md5 digest, magic-byte media type) as pure JVM "
    "expressions.  Fixture payloads are text bytes, so the sniffed type "
    "is the octet-stream fallback; digests are what dedup shuffles "
    "instead of blobs.  (Spark md5(binary) == DuckDB md5(text) for UTF-8 "
    "text payloads.)",
)
def mm_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_binary, payload_metadata

    d = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", payload_metadata("payload").alias("m")).select(
        "doc_id",
        F.col("m.n_bytes").cast("bigint").alias("n_bytes"),
        F.col("m.digest").alias("digest"),
        F.col("m.media_type").alias("media_type"),
    )


@query(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST('stub' AS VARCHAR) AS decode_status,
           TRUE AS feat_dim_ok,
           TRUE AS feat_normalized,
           TRUE AS feat_nonneg
    FROM documents
    """,
    doc="Multimodal decode + feature extraction via mapInPandas (Arrow "
    "batches).  The codec is STUBBED (no image libs in the container; "
    "deterministic fake features from byte histograms) -- the Spark-side "
    "plumbing (schema, batching, parallelism) is real and tested "
    "(tests/test_multimodal.py asserts determinism + batch-size "
    "invariance).  Hash-checked as value+claim: width/height/channels/"
    "status are exact values the oracle derives from byte length, and "
    "the Python-internal feature vector is checked by invariants the "
    "oracle states as TRUE -- dimension == FEATURE_DIM, L1-normalized "
    "(or all-zero for an empty payload), non-negative.",
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        FEATURE_DIM,
        decode_and_featurize,
        documents_as_binary,
    )

    d = documents_as_binary(load_table(spark, sf_dir, "documents"))
    out = decode_and_featurize(d)
    fsum = F.aggregate(
        "features", F.lit(0.0), lambda acc, v: acc + v.cast("double")
    )
    return out.select(
        "doc_id",
        "width",
        "height",
        "channels",
        "decode_status",
        (F.size("features") == FEATURE_DIM).alias("feat_dim_ok"),
        (
            (F.abs(fsum - 1.0) <= 1e-3)
            | ((F.col("width") == 1) & (fsum == 0.0))
        ).alias("feat_normalized"),
        F.forall("features", lambda v: v >= 0.0).alias("feat_nonneg"),
    )


@query(
    "mm_resize_meta",
    oracle="""
    SELECT doc_id,
           GREATEST(1, CAST(floor(w * scale) AS INTEGER)) AS width,
           GREATEST(1, CAST(floor(h * scale) AS INTEGER)) AS height,
           GREATEST(1, CAST(floor(n * scale * scale) AS BIGINT)) AS out_bytes
    FROM (
        SELECT doc_id, n, w, h, LEAST(1.0, 64.0 / GREATEST(w, h)) AS scale
        FROM (
            SELECT doc_id,
                   octet_length(encode(text)) AS n,
                   octet_length(encode(text)) % 640 + 1 AS w,
                   octet_length(encode(text)) % 480 + 1 AS h
            FROM documents
        )
    )
    """,
    doc="Multimodal resize plumbing (mapInPandas, Arrow batches, no "
    "shuffle): metadata view of operators.multimodal.resize_images.  The "
    "codec is STUBBED (deterministic dims from byte length -- no image "
    "libs in the container), which makes the output a pure function of "
    "octet_length and therefore fully DuckDB-checkable: dims, scale "
    "clamp, and output payload size are all hash-verified.  A real codec "
    "slots into the same binary-in/binary-out contract.",
)
def mm_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_binary, resize_images

    d = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return resize_images(d, max_side=64).select(
        "doc_id",
        "width",
        "height",
        F.octet_length("payload").cast("bigint").alias("out_bytes"),
    )


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(UNNEST(range(LEAST(8, octet_length(encode(text)) // 64)))
                AS INTEGER) AS frame_idx,
           CAST(64 AS BIGINT) AS frame_bytes
    FROM documents
    WHERE octet_length(encode(text)) >= 64
    """,
    doc="Multimodal frame sampling (one 'video' payload row -> up to 8 "
    "frame rows through Arrow): metadata view of "
    "operators.multimodal.sample_frames.  The multi-emit fan-out -- the "
    "reference mapper's NUM_PAIRS slots (config.cuh:13) generalized to a "
    "data-dependent count -- is hash-checked: per-doc frame count and "
    "frame indices are pure functions of payload length.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_binary, sample_frames

    d = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return sample_frames(d, every_n_bytes=64, max_frames=8).select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame_payload").cast("bigint").alias("frame_bytes"),
    )


# --- Generic MapReduce UDF surface ----------------------------------------------

def _udf_mapreduce_oracle() -> str:
    from .registry import (
        INIT_CENTROIDS_2D,
        POINTS_SQL,
        assign_sql,
        cents_sql,
    )

    return f"""
    WITH points AS ({POINTS_SQL}), cents AS {cents_sql(INIT_CENTROIDS_2D)},
    assigned AS ({assign_sql()})
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
           TRUE AS cx_matches_native, TRUE AS cy_matches_native
    FROM assigned GROUP BY cluster_id
    """


@query(
    "udf_mapreduce_kmeans_step",
    oracle=_udf_mapreduce_oracle(),
    doc="The reference's user extensibility hook (typed mapper/reducer "
    "pair, kmeans_mapreduce_core.cu:21-35 + :54-69) exercised end-to-end: "
    "one K-Means step through the generic Arrow-batched map_reduce "
    "operator.  Hash-checked as a CLAIM: per-cluster counts are exact "
    "(verifying the Python mapper's argmin semantics against the SQL "
    "formulation), and the Python means are compared to the native "
    "Column-expression means inside Spark with booleans the oracle "
    "states as TRUE (numpy's pairwise summation makes the raw means "
    "engine-unportable at the last ulp; 1e-6 relative tolerance).  "
    "Full bit-level equality with the native path is asserted in "
    "tests/test_map_reduce.py.",
)
def udf_mapreduce_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import assign_2d, update_2d
    from ..operators.map_reduce import kmeans_step_mapreduce
    from ..sources.readers import points_xy
    from .registry import INIT_CENTROIDS_2D

    pts = points_xy(spark, sf_dir)
    hook = kmeans_step_mapreduce(pts, INIT_CENTROIDS_2D)
    native = update_2d(assign_2d(pts, INIT_CENTROIDS_2D)).select(
        F.col("cluster_id").alias("n_cid"),
        F.col("cx").alias("n_cx"),
        F.col("cy").alias("n_cy"),
    )
    tol = 1e-6
    return (
        hook.join(F.broadcast(native), hook.cluster_id == native.n_cid)
        .select(
            "cluster_id",
            "n",
            (
                F.abs(F.col("cx") - F.col("n_cx"))
                <= tol * F.greatest(F.abs("n_cx"), F.lit(1.0))
            ).alias("cx_matches_native"),
            (
                F.abs(F.col("cy") - F.col("n_cy"))
                <= tol * F.greatest(F.abs("n_cy"), F.lit(1.0))
            ).alias("cy_matches_native"),
        )
    )


@query(
    "udf_group_normalize",
    oracle="""
    SELECT event_id, event_type,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 6)
               AS value_z
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
    doc="applyInPandas in the hash-checked gate: per-event-type z-score "
    "normalization computed as a grouped-map Pandas UDF (one Arrow batch "
    "per group, pandas mean/std with ddof=1), checked against the "
    "window-aggregate SQL formulation -- the two-sided contract for the "
    "'custom per-group Python' extensibility surface.  Scale shape: one "
    "shuffle on the group key, Python touches each group once; for "
    "groups too big for one worker the window formulation (also "
    "implemented, rel_window_* family) is the fallback.",
)
def udf_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )

    def normalize(pdf):
        import numpy as np

        v = pdf["value"]
        z = ((v - v.mean()) / v.std(ddof=1)).round(6)
        # Singleton / zero-variance groups: pandas yields NaN (0/0) where
        # the SQL formulation's stddev_samp returns NULL -- null out
        # non-finite z so both engines agree on degenerate groups.
        z = z.where(np.isfinite(z))
        return pdf.assign(value_z=z)[["event_id", "event_type", "value_z"]]

    return e.groupBy("event_type").applyInPandas(
        normalize, "event_id bigint, event_type string, value_z double"
    )


@query(
    "udf_cogroup_asof",
    oracle="""
    WITH p AS (SELECT event_id AS pid, user_id,
                      date_trunc('microseconds', ts) AS pts,
                      ts IS NULL AS pts_null
               FROM events WHERE event_type = 'purchase'),
    c0 AS (SELECT user_id, date_trunc('microseconds', ts) AS cts,
                  max(event_id) AS cid
           FROM events
           WHERE event_type = 'click' AND ts IS NOT NULL
           GROUP BY 1, 2)
    SELECT p.pid, p.user_id,
           CASE WHEN p.pts_null THEN NULL ELSE c0.cid END AS cid
    FROM p ASOF LEFT JOIN c0
      ON p.user_id = c0.user_id AND p.pts >= c0.cts
    """,
    doc="The cogrouped-map pandas surface (groupBy.cogroup.applyInPandas, "
    "plan node FlatMapCoGroupsInPandas): per-user reconciliation of the "
    "purchase stream against the click stream via pandas.merge_asof -- "
    "deliberately the SAME semantics and oracle as rel_asof_join, so the "
    "two formulations cross-check each other (window-carry JVM plan vs "
    "per-key two-sided pandas merge).  Clicks are pre-collapsed to "
    "max(cid) per timestamp inside the group (the oracle's c0), "
    "direction='backward' + allow_exact_matches gives pts >= cts with "
    "the latest-ts/highest-id tie rule.  NULL classes handled even "
    "though the fixture has none: NaT purchases keep their row with "
    "NULL cid, NaT clicks are dropped, a NULL group key matches "
    "nothing.  Scale shape: one shuffle per side on user_id, each "
    "cogroup crosses Arrow once; when one user's history outgrows a "
    "worker, the window formulation (rel_asof_join) is the fallback -- "
    "which is why both exist.",
)
def udf_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )

    def reconcile(key, purchases, clicks):
        import pandas as pd

        out_cols = ["pid", "user_id", "cid"]
        if purchases.empty:
            return pd.DataFrame(columns=out_cols)
        if key[0] is None:
            res = purchases[["pid", "user_id"]].copy()
            res["cid"] = pd.array([None] * len(res), dtype="Int64")
            return res[out_cols]
        cc = clicks.dropna(subset=["cts"])
        cc = (
            cc.groupby("cts", as_index=False)["cid"]
            .max()
            .sort_values("cts")
        )
        nat = purchases[purchases["pts"].isna()][["pid", "user_id"]].copy()
        nat["cid"] = pd.array([None] * len(nat), dtype="Int64")
        pp = purchases.dropna(subset=["pts"]).sort_values("pts")
        if cc.empty:
            merged = pp[["pid", "user_id"]].copy()
            merged["cid"] = pd.array([None] * len(merged), dtype="Int64")
        else:
            merged = pd.merge_asof(
                pp, cc, left_on="pts", right_on="cts", direction="backward"
            )[["pid", "user_id", "cid"]]
            merged["cid"] = merged["cid"].astype("Int64")
        return pd.concat([merged, nat])[out_cols]

    return (
        p.groupBy("user_id")
        .cogroup(c.groupBy("user_id"))
        .applyInPandas(reconcile, "pid bigint, user_id bigint, cid bigint")
    )


# --- Similarity search (brute-force oracle path) -----------------------------

_QUERY_IDS = (0, 7, 42)

@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
               FROM embeddings WHERE vec_id IN {_QUERY_IDS}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT q_id, vec_id AS neighbor_id, cos_sim, rank FROM (
        SELECT q.q_id, c.vec_id,
               round(list_dot_product(q.q_emb, c.emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.q_id
                   ORDER BY list_dot_product(q.q_emb, c.emb)
                        / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                           * sqrt(list_dot_product(c.emb, c.emb))) DESC,
                        c.vec_id
               ) AS rank
        FROM q CROSS JOIN c
        WHERE q.q_id <> c.vec_id
    ) WHERE rank <= 10
    """,
    doc="Brute-force cosine top-10 for 3 query vectors: broadcast the tiny "
    "query side, JVM-side dot product (zip_with + aggregate), window "
    "top-k with deterministic tie-break.  The exact baseline the ANN/IVF "
    "path is measured against.",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    cand = e.select(F.col("vec_id"), emb.alias("emb"))
    q = cand.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    sim = dot / (nrm("q_emb") * nrm("emb"))
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("vec_id"))
    return (
        cand.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("vec_id"))
        .withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("_sim", 6).alias("cos_sim"),
            "rank",
        )
    )


# --- Python UDTF surface ------------------------------------------------------

@query(
    "udtf_shingles",
    oracle=r"""
    SELECT doc_id, CAST(s.pos AS INTEGER) AS pos, s.shingle AS shingle
    FROM (
      SELECT doc_id, unnest([ {'pos': i - 1,
               'shingle': list_aggregate(toks[i:i+2], 'string_agg', ' ')}
             FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)]) AS s
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents WHERE doc_id < 100)
    )
    """,
    doc="Python UDTF via SQL LATERAL: one doc row -> one row per 3-gram "
    "shingle, with its position.  The dynamic version of the reference "
    "mapper's fixed NUM_PAIRS multi-emit slots (config.cuh:13, "
    "kmeans_mapreduce_core.cu:41-43).  Same tokenization as the JVM-side "
    "shingle expression (functions.text.word_shingles), which remains "
    "the hot-path choice -- the UDTF exists as the imperative hook.",
)
def udtf_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udtfs import register_udtfs
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.shingle
        FROM documents d, LATERAL shingles(d.text) s
        WHERE d.doc_id < 100
        """
    )


@query(
    "udtf_polymorphic_topterms",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, t AS term, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                         AS t
              FROM documents WHERE doc_id < 200)
        GROUP BY doc_id, t
    ),
    r AS (
        SELECT doc_id, term,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, term) AS rn,
               count(*) OVER (PARTITION BY doc_id) AS nd
        FROM f
    )
    SELECT doc_id,
           max(CASE WHEN rn = 1 THEN term END) AS term_1,
           max(CASE WHEN rn = 2 THEN term END) AS term_2,
           max(CASE WHEN rn = 3 THEN term END) AS term_3,
           CAST(max(nd) AS BIGINT) AS n_distinct_terms
    FROM r GROUP BY doc_id
    """,
    doc="POLYMORPHIC Python UDTF (the analyze() static method computes "
    "the output schema from the constant n argument at plan time): "
    "top_terms(text, 3) emits term_1..term_3 + n_distinct_terms per "
    "document -- the dynamic-schema half of the UDTF surface, "
    "complementing udtf_shingles' fixed returnType.  Deterministic "
    "despite being a ranking (ties break alphabetically in both "
    "engines); the oracle states it as a per-doc frequency window + "
    "conditional-max pivot.  doc_id < 200 keeps the row-at-a-time "
    "Python path deliberate-surface-sized, same as udtf_shingles -- "
    "the JVM window family remains the hot-path choice.",
)
def udtf_polymorphic_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udtfs import register_udtfs
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.doc_id, t.term_1, t.term_2, t.term_3, t.n_distinct_terms
        FROM documents d, LATERAL top_terms(d.text, 3) t
        WHERE d.doc_id < 200
        """
    )


@query(
    "udtf_table_arg_sessions",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
        FROM events WHERE user_id < 100 AND ts IS NOT NULL
    ),
    g AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(1 + sum(brk) AS BIGINT) AS n_sessions,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
                AS BIGINT) AS span_s
    FROM g GROUP BY user_id
    """,
    doc="TABLE-argument UDTF (the third UDTF surface after LATERAL "
    "scalar args and polymorphic analyze): gap_sessions(TABLE(...) "
    "PARTITION BY user_id ORDER BY ts, event_id) counts 30-min-gap "
    "sessions per user with O(1) running state per partition -- the "
    "UDTF twin of rel_sessionize_batch's lag/running-sum window, same "
    "gap rule, so the two formulations cross-check.  Session count, "
    "event count and first->last span are all tie-order invariant "
    "(equal timestamps are gap 0), and span_s is an exact integer "
    "microsecond floor division in both engines.  The UTC pin wraps "
    "DataFrame construction (timestamps cross into Python as naive "
    "datetimes in session timezone; a DST-shifted zone would corrupt "
    "naive diffs).  user_id < 100 keeps the row-at-a-time Python path "
    "deliberate-surface-sized; the JVM window formulation is the "
    "hot-path choice.",
)
def udtf_table_arg_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udtfs import register_udtfs
    from ..sources.readers import register_views

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    register_views(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT s.user_id, s.n_events, s.n_sessions, s.span_s
        FROM gap_sessions(
            TABLE(SELECT user_id, event_id, ts FROM events
                  WHERE user_id < 100 AND ts IS NOT NULL)
            PARTITION BY user_id ORDER BY (ts, event_id)
        ) s
        """
    )


# --- Dataset assembly: sampling, mixing, splitting, packing -------------------
# The ops between "corpus" and "training run".  All deterministic (md5
# keys, not RNG) so every one is hash-checked against the SQL oracle and
# reproducible run-to-run -- the property a data pipeline needs for
# lineage anyway.  Each is one scan + at most one bounded shuffle.

_MD5_DOC = "CAST(('0x' || substr(md5('mix42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"

@query(
    "pipe_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {_MD5_DOC}, doc_id)
                   AS rn
        FROM documents
    ) WHERE rn <= 50
    """,
    doc="Stratified sampling: 50 docs per language by seeded md5 order -- "
    "per-stratum quotas for a balanced eval set.  One window shuffle "
    "partitioned by the stratum; at 100 TB strata are the window "
    "partitions, so skew follows language skew (salt the big ones or "
    "pre-filter by the md5 threshold trick first).",
)
def pipe_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(md5_long("doc_id", "mix42:"), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


@query(
    "pipe_source_mixture",
    oracle=f"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_sampled
    FROM documents
    WHERE {_MD5_DOC} % 100 < CASE source
        WHEN 'web' THEN 20 WHEN 'books' THEN 80 ELSE 50 END
    GROUP BY source
    """,
    doc="Source mixing: per-source keep-rates (web 20%, books 80%, rest "
    "50%) via a deterministic md5 threshold -- the mixture-weights step "
    "of corpus assembly.  Pure narrow filter: no shuffle, no RNG, "
    "resumable, and the SAME rows are kept on every run at any scale.",
)
def pipe_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source") == "web", 20)
        .when(F.col("source") == "books", 80)
        .otherwise(50)
    )
    return (
        d.where(md5_long("doc_id", "mix42:") % 100 < rate)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@query(
    "pipe_train_val_test",
    oracle=f"""
    SELECT CASE WHEN {_MD5_DOC} % 100 < 90 THEN 'train'
                WHEN {_MD5_DOC} % 100 < 95 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM documents GROUP BY 1
    """,
    doc="Deterministic 90/5/5 train/val/test split on a hash of the "
    "stable key: membership is a pure function of doc_id, so the split "
    "never leaks across reruns, late-arriving data lands consistently, "
    "and no shuffle or RNG state is involved.",
)
def pipe_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    d = load_table(spark, sf_dir, "documents")
    h = md5_long("doc_id", "mix42:") % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


@query(
    "pipe_global_shuffle",
    oracle=r"""
    WITH h AS (
        SELECT doc_id,
               md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, hx,
               CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 16 AS shard
        FROM h
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
                    PARTITION BY shard ORDER BY hx, doc_id
                ) - 1 AS BIGINT) AS pos_in_shard
    FROM sharded
    """,
    doc="Deterministic global training-data shuffle: every doc gets a "
    "seeded md5 key; the key's top 32 bits pick one of 16 shards and "
    "the full hex orders rows WITHIN the shard.  (shard, pos_in_shard) "
    "is a reproducible random permutation -- the epoch-0 example order "
    "of a training run, stable across reruns and engine-portable.  "
    "Scale shape: deliberately NOT row_number() over a global ORDER BY "
    "(one task would receive the entire sort -- the classic "
    "single-partition-window scale-killer); sharding first makes the "
    "window PARTITION BY shard, so each shard sorts independently and "
    "in parallel with a spillable external sort, one exchange total.  "
    "At 100 TB the shard count scales to thousands (one output file "
    "each); 16 here matches the fixture size.",
)
def pipe_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string")))
    sharded = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        hx.alias("hx"),
        (F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint") % 16).alias(
            "shard"
        ),
    )
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return sharded.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos_in_shard"),
    )


@query(
    "pipe_token_packing",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(doc_id % 8 AS BIGINT) AS shard
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM t
    )
    SELECT shard, CAST(floor((cum - 1) / 2048) AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY shard, 2
    """,
    doc="Sequence packing: docs are concatenated per shard in stable "
    "order and cut into ~2048-token packs via a running-sum window "
    "(pack = floor((cumsum-1)/budget)) -- the context-window packing "
    "step before tokenizer sharding.  One window shuffle on the shard "
    "key; shard count scales with the cluster, never a global sort.",
)
def pipe_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        (F.col("doc_id") % 8).cast("bigint").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.groupBy(
            "shard",
            F.floor((F.col("cum") - 1) / 2048).cast("bigint").alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
    )


# --- Repetition filter (Gopher-style) + normalization ------------------------

@query(
    "text_repetition_ratio",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest([
            list_aggregate(toks[i:i+1], 'string_agg', ' ')
            FOR i IN range(1, greatest(len(toks) - 1, 0) + 1)
        ]) AS g FROM toks
    ),
    counts AS (
        SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio
    FROM counts GROUP BY doc_id
    """,
    doc="Repetition filter (the Gopher/MassiveText heuristic): share of "
    "all 2-gram occurrences taken by the most frequent 2-gram; "
    "high-ratio docs are boilerplate/degenerate repetition.  Two "
    "aggregations, both map-side combinable; grams never leave the "
    "executors.",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    g = d.select("doc_id", F.explode(word_shingles("text", 2)).alias("g"))
    counts = g.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        (F.max("c").cast("double") / F.sum("c")).alias("rep_ratio"),
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id,
               unnest([lower(text)[i] FOR i IN range(1, len(text) + 1)])
                   AS ch
        FROM documents WHERE len(text) > 0
    ),
    counts AS (
        SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars_seen,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE)))
                   / CAST(sum(c) AS DOUBLE), 6) AS entropy_nats
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Character-distribution Shannon entropy per document (nats) -- "
    "the classic gibberish/boilerplate signal: natural text sits near "
    "~3 nats, 'aaaa...' near 0, base64 blobs higher.  Computed as "
    "ln(N) - sum(c*ln(c))/N from EXACT integer counts so only the "
    "final ln/divide are float (rounded 6, both engines).  Shape: "
    "1-gram explode -> count per (doc, char) with map-side partial agg "
    "(post-combine rows ~= alphabet size per doc per partition, not "
    "chars), then the per-doc fold.  Chars themselves never shuffle "
    "beyond the ~40-row-per-doc count vector.",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split-on-empty-pattern explodes per character in ONE regex pass --
    # measured 7x faster than the transform(sequence)+substr HOF at
    # sf0.1 (0.53 s vs 3.67 s; HOF lambdas evaluate interpreted per
    # element), row-set-identical.  Both variants index UTF-16 units,
    # same as the HOF's substr -- the ASCII fixture contract.
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    chars = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "")).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return (
        counts.groupBy("doc_id")
        .agg(
            n.alias("n_chars_seen"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(
                F.log(n.cast("double"))
                - F.sum(F.col("c") * F.log(F.col("c").cast("double")))
                / n.cast("double"),
                6,
            ).alias("entropy_nats"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           CAST(length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                AS BIGINT) AS norm_len,
           CAST(length(regexp_replace(regexp_replace(trim(lower(text)),
                '\\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g')) AS BIGINT)
               AS alnum_len,
           substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), 1, 20)
               AS head
    FROM documents
    """,
    doc="Text normalization transform: lowercase, whitespace-collapse, "
    "punctuation strip -- the canonical-form step before hashing/dedup. "
    "Pure regexp projections, linear in bytes, no shuffle.",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    alnum = F.regexp_replace(norm, r"[^a-z0-9 ]", "")
    return d.select(
        "doc_id",
        F.length(norm).cast("bigint").alias("norm_len"),
        F.length(alnum).cast("bigint").alias("alnum_len"),
        F.substring(norm, 1, 20).alias("head"),
    )


# --- IVF ANN with fixed cells: the probe path, hash-checked ------------------

_IVF_DIST = (
    "list_sum([ (z[1] - z[2]) * (z[1] - z[2]) FOR z IN list_zip({a}, {b}) ])"
)
_IVF_COS = (
    "list_dot_product(p.q_emb, i.emb)"
    " / (sqrt(list_dot_product(p.q_emb, p.q_emb))"
    " * sqrt(list_dot_product(i.emb, i.emb)))"
)

# The fixed-cell IVF serving chain (cells = embeddings vec_id<4,
# nprobe=2, in-cell cosine top-5) as ONE shared CTE constant consumed
# by BOTH sim_ann_ivf_fixed and sim_ivf_recall_eval -- the
# _SEMANTIC_SUB_CTES zero-drift discipline applied to the ANN path.
_IVF_FIXED_TOP5_CTES = f"""cents AS (
        SELECT CAST(vec_id AS INTEGER) AS cell_id, embedding::DOUBLE[] AS cemb
        FROM embeddings WHERE vec_id < 4
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    indexed AS (
        SELECT vec_id, emb, cell_id FROM (
            SELECT e.vec_id, e.emb, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_IVF_DIST.format(a="e.emb", b="c.cemb")}, c.cell_id
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id IN (0, 7, 42)),
    probes AS (
        SELECT q_id, q_emb, cell_id FROM (
            SELECT q.q_id, q.q_emb, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_IVF_DIST.format(a="q.q_emb", b="c.cemb")}, c.cell_id
                   ) AS rn
            FROM q CROSS JOIN cents c
        ) WHERE rn <= 2
    ),
    ivf_top5 AS (
        SELECT q_id, vec_id, cos_sim, rank FROM (
            SELECT p.q_id, i.vec_id,
                   round({_IVF_COS}, 6) AS cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.q_id ORDER BY {_IVF_COS} DESC, i.vec_id
                   ) AS rank
            FROM probes p JOIN indexed i ON i.cell_id = p.cell_id
            WHERE p.q_id <> i.vec_id
        ) WHERE rank <= 5
    )"""


@query(
    "sim_ann_ivf_fixed",
    oracle=f"""
    WITH {_IVF_FIXED_TOP5_CTES}
    SELECT q_id, vec_id AS neighbor_id, cos_sim, rank FROM ivf_top5
    """,
    doc="The IVF probe path with FIXED cells (embeddings of vec_id<4 as "
    "cell centroids, nprobe=2, top-5): assignment, probing, and "
    "in-cell cosine ranking are all deterministic relational algebra, "
    "so the ENTIRE ANN serving path is hash-checked against SQL -- "
    "complementing sim_ann_ivf, whose trained quantizer is checked by "
    "recall tests.  Same shape as serving against a persisted index: "
    "cells prune the scan, only nprobe/n_cells of the data is ranked.",
)
def sim_ann_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import assign_nd
    from ..operators.similarity import ivf_topk
    from ..plans.kmeans_queries import _cents_nd

    e = load_table(spark, sf_dir, "embeddings")
    cents = _cents_nd(spark, sf_dir, k=4)
    indexed = assign_nd(e, cents, out="cell_id")
    q = e.where(F.col("vec_id").isin(0, 7, 42)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    return ivf_topk(indexed, cents, q, k=5, nprobe=2).withColumnRenamed(
        "vec_id", "neighbor_id"
    )


# --- Structured Streaming in the correctness gate ----------------------------

#: memory-sink names must be unique per session; deterministic counter.
_STREAM_RUNS = iter(range(1_000_000))


def _drain_stream_to_table(spark: SparkSession, build, prefix: str) -> DataFrame:
    """Build a streaming DataFrame (``build``: zero-arg callable) and run
    it to completion (availableNow) into a fresh append-mode memory sink,
    returning the emitted table.

    State-store partitioning: the stateful agg runs one task per shuffle
    partition per microbatch, and each partition carries HDFS-state-store
    setup/commit cost; a plain session's 200 is pure overhead for
    sf-scale state (measured 9.2 s -> <2.5 s at sp=8, -> ~1-1.8 s at
    sp=2 at sf0.01).  sp=2 is a GATE sizing -- at production scale the
    partition count is sized to state volume, and nothing in the
    operators depends on it.  Fresh sink + no retained checkpoint, so
    the partition count is free to differ per run; conf restored after
    the drain.  A timeout raises (a partially-filled table would be a
    confusing hash mismatch) and the query is stopped either way.

    Timezone: the streaming queries format event-time windows to strings
    (tz-dependent), so UTC is pinned for the drain and restored in the
    same finally as shuffle.partitions (round-3 advice: a bare set()
    permanently mutated the shared gate/test session).  The DataFrame is
    constructed INSIDE the pin via the ``build`` callable -- Spark
    resolves session.timeZone into TimeZoneAware expressions at analysis
    time, i.e. at DataFrame creation, so a stream built before the
    conf.set would capture whatever zone the session happened to be in
    and the pin would silently not apply.
    """
    name = f"{prefix}{next(_STREAM_RUNS)}"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        df = build()
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, f"stream {name}")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    return spark.table(name)


#: Batch gap-merge twin of the streaming session window, restricted to
#: sessions the append-mode watermark has closed by stream end -- shared
#: by the default-provider and RocksDB-provider gate queries, which must
#: be result-identical by contract.
_SESSION_WINDOW_ORACLE = """
    WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
               FROM events),
    g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    s AS (
        SELECT user_id, ts,
               sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM g
    )
    SELECT user_id,
           CAST(strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS VARCHAR)
               AS session_start_s,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 30 MINUTE
           <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    """


@query(
    "stream_session_windows",
    oracle=_SESSION_WINDOW_ORACLE,
    doc="Native streaming session windows, hash-checked: the REAL "
    "streaming job (file source -> session_window(ts, 30 min) gap-merge "
    "-> append-mode memory sink, availableNow).  Append mode emits a "
    "session once the watermark (max event time - 2 h) passes its END "
    "(last event + gap), so the oracle is the batch gap-merge "
    "restricted to sessions closed at stream end -- the watermark-"
    "driven state eviction is exactly what the hash verifies.  The "
    "built-in JVM-state twin of the applyInPandasWithState sessionizer "
    "(streaming/streams.py).",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, session_window_stream

    return _drain_stream_to_table(
        spark,
        lambda: session_window_stream(read_events_stream(spark, sf_dir)),
        "_gate_sessionwin_",
    )


@query(
    "stream_session_windows_rocksdb",
    oracle=_SESSION_WINDOW_ORACLE,
    doc="The same native session-window stream drained under the "
    "RocksDB state store provider -- the large-state production "
    "configuration (disk-backed state, incremental changelog "
    "checkpoints, block-cache-bounded memory) where the default "
    "provider would OOM holding billions of open sessions on heap.  "
    "Same oracle as stream_session_windows by contract: the provider "
    "changes the memory/checkpoint profile, never the result; this "
    "gate row makes that claim driver-hash-checked rather than only "
    "unit-tested.  The provider conf applies to queries STARTED after "
    "the set and is restored afterward, so neighboring gate queries "
    "keep the default provider.",
)
def stream_session_windows_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, session_window_stream
    from ..streaming.streams import use_rocksdb_state

    conf = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(conf)
    try:
        use_rocksdb_state(spark)
        return _drain_stream_to_table(
            spark,
            lambda: session_window_stream(read_events_stream(spark, sf_dir)),
            "_gate_sessionwin_rocks_",
        )
    finally:
        spark.conf.set(conf, old)


@query(
    "stream_hourly_counts",
    oracle="""
    SELECT CAST(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS VARCHAR)
               AS hour_str,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    GROUP BY 1, 2
    """,
    doc="Structured Streaming, hash-checked: runs the REAL streaming job "
    "(file source -> watermarked 1-hour windowed agg -> append-mode "
    "memory sink, trigger(availableNow)) and returns the emitted set.  "
    "Append mode emits a window only once the watermark (max event time "
    "- 2 h) passes its END, so the oracle is the batch aggregate "
    "restricted to windows closed at stream end -- watermark semantics "
    "themselves are what the hash verifies.  Unbounded variant of "
    "rel_date_funcs; state stays bounded at any scale because closed "
    "windows are evicted.",
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import hourly_counts_stream, read_events_stream

    return _drain_stream_to_table(
        spark,
        lambda: hourly_counts_stream(read_events_stream(spark, sf_dir)),
        "_gate_hourly_",
    )


@query(
    "stream_sliding_counts",
    oracle="""
    WITH w AS (
        SELECT e.*,
               time_bucket(INTERVAL 30 MINUTE, ts)
                   - k.k * INTERVAL 30 MINUTE AS win_start
        FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k) k
    )
    SELECT CAST(strftime(win_start, '%Y-%m-%d %H:%M:%S') AS VARCHAR)
               AS win_str,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM w
    WHERE win_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    GROUP BY 1, 2
    """,
    doc="Structured Streaming sliding windows, hash-checked: 1-hour "
    "windows sliding by 30 minutes (every event in 2 windows), "
    "watermarked, availableNow drain to an append-mode memory sink.  "
    "The oracle replays the window fan-out in batch SQL (each event "
    "joined to its 2 slide-aligned window starts) restricted to windows "
    "closed at stream end -- verifying both the overlap fan-out and the "
    "append-mode watermark emission.",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, sliding_counts_stream

    return _drain_stream_to_table(
        spark,
        lambda: sliding_counts_stream(read_events_stream(spark, sf_dir)),
        "_gate_sliding_",
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT CAST(strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S')
                AS VARCHAR) AS hour_str,
           n.n_name,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(e.value), 4) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE date_trunc('hour', e.ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    GROUP BY 1, 2
    """,
    doc="Stream-static join, hash-checked: the event stream joined to a "
    "broadcast customer x nation dimension (stateless -- no join state, "
    "dimension re-read per microbatch), then a watermarked hourly agg "
    "per nation in append mode.  The fact-stream/dimension-table "
    "pattern; oracle is the equivalent batch join restricted to closed "
    "windows.",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import enriched_counts_stream, read_events_stream

    dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    return _drain_stream_to_table(
        spark,
        lambda: enriched_counts_stream(read_events_stream(spark, sf_dir), dim),
        "_gate_enriched_",
    )


# --- BPE-ish subword token counting ------------------------------------------

#: GPT-2-style pre-tokenizer pattern, restricted to constructs BOTH Java
#: regex (Spark) and RE2 (DuckDB) support -- no lookahead: contraction
#: suffixes, optionally-space-prefixed letter runs, digit runs, and
#: punctuation runs.  Counting its matches approximates a BPE tokenizer's
#: piece count before merges (each merge only reduces it), which is the
#: budget number a training pipeline packs sequences by.
_BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"

#: the same pattern as a SQL string literal (apostrophes doubled).
_BPE_SQL = _BPE_PATTERN.replace("'", "''")


@query(
    "text_bpe_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS INTEGER)
               AS n_pieces,
           CAST(length(text) AS DOUBLE)
               / greatest(len(regexp_extract_all(text, '{_BPE_SQL}')), 1)
               AS chars_per_piece
    FROM documents
    """,
    doc="BPE-ish token counting: a GPT-2-style pre-tokenizer regex "
    "(contractions / letter runs / digit runs / punctuation runs, "
    "space-prefixed) counted per document -- the sequence-budget number "
    "token_packing packs by, finer than whitespace tokens "
    "(text_token_stats).  The pattern uses only constructs Java regex "
    "and RE2 share, so the IDENTICAL pattern runs in both engines; one "
    "narrow codegen'd projection, linear in input bytes.",
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)
    n = F.size(pieces)
    return d.select(
        "doc_id",
        n.alias("n_pieces"),
        (
            F.length("text").cast("double") / F.greatest(n, F.lit(1))
        ).alias("chars_per_piece"),
    )


# --- Language ID, n-gram heuristic variant -----------------------------------

#: distinctive character trigrams per language (public frequency lore);
#: counted by substring occurrence, so the same literals drive both
#: engines.  'zh' is detected by Han-script presence, which trigram
#: counting over an alphabetic vocabulary cannot see.
_LANG_TRIGRAMS = {
    "en": ["the", "ing", "and", "ion"],
    "es": ["que", "los", "de ", "ado"],
    "de": ["der", "ein", "sch", "und"],
    "fr": ["les", "des", "ent", "une"],
}


def _trigram_score_sql(lang: str) -> str:
    terms = " + ".join(
        f"(length(t) - length(replace(t, '{g}', ''))) / 3"
        for g in _LANG_TRIGRAMS[lang]
    )
    return f"({terms})"


@query(
    "text_lang_id_ngram",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang AS lang_actual, lower(text) AS t
               FROM documents),
    scored AS (
        SELECT doc_id, lang_actual,
               regexp_matches(t, '\\p{{Han}}') AS is_han,
               {_trigram_score_sql('en')} AS s_en,
               {_trigram_score_sql('es')} AS s_es,
               {_trigram_score_sql('de')} AS s_de,
               {_trigram_score_sql('fr')} AS s_fr
        FROM t
    )
    SELECT doc_id, lang_actual,
           CASE WHEN is_han THEN 'zh'
                ELSE CASE greatest(s_en, s_es, s_de, s_fr)
                     WHEN s_en THEN 'en' WHEN s_es THEN 'es'
                     WHEN s_de THEN 'de' ELSE 'fr' END
           END AS lang_pred
    FROM scored
    """,
    doc="Language ID, n-gram heuristic variant (alongside the stopword "
    "scorer text_lang_id): distinctive character trigrams counted by "
    "substring occurrence -- (len(t) - len(replace(t, g, ''))) / 3, "
    "identical arithmetic in both engines -- argmax with a fixed tie "
    "order, plus a Han-script regex branch for CJK text that an "
    "alphabetic-trigram vocabulary cannot see.  Pure codegen'd string "
    "expressions, linear in input bytes.  NOTE: the synthetic fixture "
    "text is English-ish vocabulary under every lang label, so no "
    "content-based detector can recover the labels there; the hash "
    "check verifies the engine-identical mechanics, and real-text "
    "behavior is covered by tests/test_edge_cases-style unit inputs.",
)
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))

    def score(lang: str):
        s = None
        for g in _LANG_TRIGRAMS[lang]:
            c = (F.length(t) - F.length(F.replace(t, F.lit(g)))) / 3
            s = c if s is None else s + c
        return s

    s = {lang: score(lang) for lang in ("en", "es", "de", "fr")}
    best = F.greatest(*s.values())
    alpha_pred = (
        F.when(s["en"] == best, "en")
        .when(s["es"] == best, "es")
        .when(s["de"] == best, "de")
        .otherwise("fr")
    )
    pred = F.when(t.rlike(r"\p{script=Han}"), "zh").otherwise(alpha_pred)
    return d.select(
        "doc_id", F.col("lang").alias("lang_actual"), pred.alias("lang_pred")
    )


# --- Round-4 additions: semantic dedup, contamination, streaming dedup -------

@query(
    "dedup_semantic_clustered",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(vec_id AS INTEGER) AS cell_id, embedding::DOUBLE[] AS cemb
        FROM embeddings WHERE vec_id < 8
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    assigned AS (
        SELECT vec_id, emb, cell_id FROM (
            SELECT e.vec_id, e.emb, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_IVF_DIST.format(a="e.emb", b="c.cemb")},
                                c.cell_id
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos_sim
    FROM assigned a JOIN assigned b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
    """,
    doc="Semantic (embedding) dedup at scale: K-Means cells as blocking "
    "-- assign every vector to its nearest fixed centroid (k=8, "
    "embeddings of vec_id<8; same ties-to-lowest-id argmin as O4), then "
    "cosine-compare only WITHIN a cell.  The within-cell equi-join "
    "replaces dedup_embedding_cosine's quadratic all-pairs: at 100 TB "
    "the candidate set shrinks by ~k x (cells shuffle-partition "
    "cleanly), at the cost of missing pairs that straddle a cell "
    "boundary -- the standard recall trade of clustered dedup "
    "(SemDeDup-style).  Full table, no id cap: the blocking IS the "
    "bound.  Ties the reference's K-Means core to the pipeline "
    "extensions: the coarse quantizer is the O4 assignment operator.",
)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _, assigned = _semantic_dedup_build(spark, sf_dir)
    return _eager(spark, out, deps=[assigned])


def _semantic_dedup_build(
    spark: SparkSession,
    sf_dir: str,
    max_cell: int | None = None,
    uniform_cap_share: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Lazy semantic-dedup plan (pairs, capped_cells, persisted dep) --
    exposed separately so tests/test_plans.py can audit the join shape
    without the _eager collect.  ``max_cell`` forwards to the operator's
    skew guard (None = uncapped, the dedup_semantic_clustered contract);
    ``uniform_cap_share`` computes max_cell = corpus_count // share FROM
    the persisted assignment itself, so the count that fills the
    multi-consumer cache IS the count the cap needs -- one job instead
    of a separate n_total scan plus an eager-fill pass (r11, guide
    §1.2/§5)."""
    from ..functions.distance import dot_product_sql
    from ..operators.kmeans import assign_nd
    from ..operators.similarity import within_cell_cosine_pairs
    from ..sources.readers import spread_scan
    from .kmeans_queries import _cents_nd

    # The single-row-group fixture scan is ONE task by format; without
    # this the assignment/norm projection AND the within-cell pair
    # join's 64-term dot filter (which streams the cached 1-partition
    # assignment through a BroadcastHashJoin) run serially on one core
    # (r11 measurement: ~1.0 s of the pair join was one task).
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    cents = _cents_nd(spark, sf_dir, k=8)
    if not cents:
        # Empty corpus: no seed vectors exist, so there is no quantizer
        # to assign against -- return typed empty frames instead of
        # handing assign_nd a zero-centroid list (array_min over an
        # empty literal array is a NULL-type analysis error).
        empty_pairs = e.select(
            F.col("vec_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.lit(0.0).alias("cos_sim"),
        ).where(F.lit(False))
        empty_capped = spark.range(0).select(
            F.col("id").cast("int").alias("cell_id"), F.col("id").alias("n")
        )
        empty_assigned = e.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            F.lit(0).cast("int").alias("cell_id"),
        ).where(F.lit(False))
        return empty_pairs, empty_capped, empty_assigned
    # Persist the assignment: both self-join sides consume it.  The
    # per-VECTOR work (k x 64-dim assignment distances AND the l2 norm)
    # is computed once here, so the per-PAIR work inside the join is a
    # single codegen'd 64-term dot product -- precomputing norms cuts
    # the pair-side float work ~3x, and the generated-SQL dot (vs the
    # interpreted HOF fold) is bit-identical by left association.
    # Same multi-consumer contract as dedup_ngram_jaccard (released via
    # _eager below; the pair set is small).
    assigned = (
        assign_nd(e, cents, out="cell_id")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            "cell_id",
        )
        .withColumn(
            "nrm", F.sqrt(F.expr(dot_product_sql("emb", "emb", 64)))
        )
        .persist()
    )
    # Cache-fill discipline, revisited r11: the r10 eager count()
    # guarded the SELF-JOIN pair stage, whose one consuming job read the
    # cold cache from three concurrent branches.  The grouped-map kernel
    # rewrite left each consumer a single gated chain (groupBy -> kernel,
    # or broadcast-build THEN probe), so a dedicated fill pass is a pure
    # extra job now:
    # - uniform_cap_share: the corpus count the cap needs doubles as the
    #   fill -- one job, same guard (capped/recursive consumers union
    #   pairs with the capped branch, where a cold cache would still be
    #   read twice concurrently).
    # - explicit max_cell (tests): keep the plain eager fill.
    # - uncapped (clustered): the single consuming job fills the cache
    #   itself in its one pass; no fill job at all.
    if uniform_cap_share is not None:
        max_cell = assigned.count() // uniform_cap_share
    elif max_cell is not None:
        assigned.count()
    # dedup_semantic_clustered passes max_cell=None (the fixture's
    # cells are bounded by construction, and its oracle states the
    # uncapped contract); dedup_semantic_capped exercises the guard
    # end-to-end with the oracle-mirrored uniform-share cap.
    out, capped = within_cell_cosine_pairs(
        assigned, dim=64, threshold=0.35, max_cell=max_cell
    )
    return out, capped, assigned


@query(
    "dedup_semantic_capped",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(vec_id AS INTEGER) AS cell_id, embedding::DOUBLE[] AS cemb
        FROM embeddings WHERE vec_id < 8
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    assigned AS MATERIALIZED (
        SELECT vec_id, emb, cell_id FROM (
            SELECT e.vec_id, e.emb, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_IVF_DIST.format(a="e.emb", b="c.cemb")},
                                c.cell_id
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    counts AS MATERIALIZED (
        SELECT cell_id, count(*) AS n FROM assigned GROUP BY cell_id
    ),
    cap AS (SELECT count(*) // 8 AS c FROM assigned),
    kept AS (
        SELECT a.vec_id, a.emb, a.cell_id
        FROM assigned a JOIN counts k ON k.cell_id = a.cell_id, cap
        WHERE k.n <= cap.c
    )
    SELECT 'pair' AS kind, a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos_sim
    FROM kept a JOIN kept b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
    UNION ALL
    SELECT 'capped_cell' AS kind, CAST(k.cell_id AS BIGINT) AS vec_a,
           k.n AS vec_b, CAST(NULL AS DOUBLE) AS cos_sim
    FROM counts k, cap WHERE k.n > cap.c
    """,
    doc="dedup_semantic_clustered's skew guard exercised END-TO-END: the "
    "within-cell join runs with max_cell = n_total // 8 (the uniform "
    "share -- any cell larger than perfect balance is 'hot'), a cap "
    "chosen so it genuinely FIRES on the fixture at every gate scale "
    "(cell shares span 0.10-0.15).  Oversized cells are excluded from "
    "the quadratic join via broadcast anti-join and emitted AS DATA "
    "(kind='capped_cell', cell_id, n) alongside the surviving pairs "
    "(kind='pair') -- never silently dropped; downstream routes them to "
    "exact/MinHash dedup or a recursive sub-clustering pass.  The cap "
    "is integer floor division in BOTH engines, so the kept/capped "
    "split is bit-identical at any scale -- the minhash MAX_BAND_BUCKET "
    "precedent (every Spark-side cap must be oracle-mirrored) applied "
    "to the SemDeDup operator (operators/similarity.py:"
    "within_cell_cosine_pairs).",
)
def dedup_semantic_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, capped, assigned = _semantic_dedup_build(
        spark, sf_dir, uniform_cap_share=8
    )
    vec_t = assigned.schema["vec_id"].dataType
    both = out.select(
        F.lit("pair").alias("kind"),
        F.col("vec_a"),
        F.col("vec_b"),
        F.col("cos_sim"),
    ).unionByName(
        capped.select(
            F.lit("capped_cell").alias("kind"),
            F.col("cell_id").cast(vec_t).alias("vec_a"),
            F.col("n").cast(vec_t).alias("vec_b"),
            F.lit(None).cast("double").alias("cos_sim"),
        )
    )
    return _eager(spark, both, deps=[assigned])


# One-entry memo for the stage-1+2 SemDeDup build (r8 ADVICE item 5):
# the gate runs dedup_semantic_recursive, dedup_semantic_residual_exact
# and dedup_semantic_survivors back to back at the head of the r9
# prefix, and each re-ran the full build (top-level assignment, seed
# collect, sub-assignment) -- the most expensive shared work in the
# sweep, tripled.  Keyed on the SHARED fixture_cache_key recipe
# (+ sub_k) -- the mandated single invalidation definition in
# sources/readers.py, same as the _CENTS_ND_CACHE memo -- so a
# different session, fixture directory, or regenerated file always
# rebuilds.  Lifetime is bounded two ways: on a key change the
# evicted entry's persisted deps are released (plain persist()s, so
# unpersist is always safe), and once all three DISTINCT chain
# consumers have read one key the entry is released eagerly -- a full
# gate sweep does not carry the corpus-scale subassigned cache
# through the ~185 unrelated queries that follow (review finding).
# A premature release only costs a rebuild, never correctness.
_SEMANTIC_BUILD_MEMO: dict = {}
_SEMANTIC_BUILD_CONSUMERS = frozenset(
    {"recursive", "residual_exact", "survivors"}
)
#: Queries whose invocation does NOT age the memo (the chain itself).
_SEMANTIC_CHAIN_QUERIES = frozenset(
    {
        "dedup_semantic_recursive",
        "dedup_semantic_residual_exact",
        "dedup_semantic_survivors",
    }
)
#: Non-chain registered queries tolerated between chain consumers before
#: the memo's persisted intermediates are force-released (r10 advice:
#: the last-consumer release assumes all three consumers run; a partial
#: sweep or single-query bench must not carry corpus-scale cached
#: partitions for the rest of the session).  3 = the chain's own length,
#: generous for any interleaving the gate actually produces (the
#: rotation keeps the trio adjacent); a premature release only costs a
#: rebuild, never correctness.
_SEMANTIC_MEMO_TTL = 3
_semantic_memo_idle = 0


def _semantic_memo_tick(qname: str) -> None:
    """registry.RUN_HOOKS callback: age the SemDeDup build memo by one
    per non-chain query; release once it has sat idle for
    _SEMANTIC_MEMO_TTL queries."""
    global _semantic_memo_idle
    if not _SEMANTIC_BUILD_MEMO:
        return
    if qname in _SEMANTIC_CHAIN_QUERIES:
        _semantic_memo_idle = 0
        return
    _semantic_memo_idle += 1
    if _semantic_memo_idle >= _SEMANTIC_MEMO_TTL:
        _release_semantic_build_memo()


registry.RUN_HOOKS.append(_semantic_memo_tick)


def _semantic_recursive_build(
    spark: SparkSession,
    sf_dir: str,
    sub_k: int = 4,
    consumer: str | None = None,
) -> tuple[DataFrame, list[DataFrame], dict | None]:
    """Memoizing wrapper around the stage-1+2 build (see
    _SEMANTIC_BUILD_MEMO).  Returns (out, deps, parts) exactly like
    the uncached builder, except deps is [] -- ownership of the
    persisted intermediates stays with the memo.  ``consumer`` names
    the calling chain query for the all-consumers-served eager
    release; anonymous callers never trigger it."""
    from ..sources.readers import fixture_cache_key

    global _semantic_memo_idle
    fk = fixture_cache_key(spark, sf_dir, "embeddings")
    if fk is None:
        # un-stat-able fixture (r10 advice): a None component would
        # collapse applicationId/sf_dir into one shared entry and could
        # serve another directory's build -- don't touch the memo;
        # caller owns the deps and releases them via _eager(deps=...)
        return _semantic_recursive_build_uncached(spark, sf_dir, sub_k)
    key = (fk, sub_k)
    hit = _SEMANTIC_BUILD_MEMO.get(key)
    if hit is None:
        _release_semantic_build_memo()
        hit = [_semantic_recursive_build_uncached(spark, sf_dir, sub_k),
               set()]
        _SEMANTIC_BUILD_MEMO[key] = hit
    _semantic_memo_idle = 0
    (out, deps, parts), served = hit
    if consumer is not None:
        served.add(consumer)
        if served >= _SEMANTIC_BUILD_CONSUMERS:
            # last distinct consumer: transfer dep OWNERSHIP to the
            # caller -- its _eager(deps=...) releases them after its
            # own collect, so the final query still executes against
            # the warm cache and nothing outlives the chain
            _SEMANTIC_BUILD_MEMO.pop(key, None)
            return out, deps, parts
    return out, [], parts


def _release_semantic_build_memo() -> None:
    for (build, _served) in _SEMANTIC_BUILD_MEMO.values():
        for dep in build[1]:
            try:
                dep.unpersist()
            except Exception:
                pass  # dead session -- nothing to release
    _SEMANTIC_BUILD_MEMO.clear()


def _semantic_recursive_build_uncached(
    spark: SparkSession, sf_dir: str, sub_k: int = 4
) -> tuple[DataFrame, list[DataFrame], dict | None]:
    """The recursive SemDeDup pass (round-7 verdict item 2): consume
    dedup_semantic_capped's routed cells instead of ending in a TODO.

    Stage 1 is exactly the capped query: assign to k=8 cells, cap at
    the uniform share n_total // 8, pair-join only KEPT cells.  Stage 2
    then actually processes every hot cell: re-cluster its members
    against ``sub_k`` sub-centroids (the cell's lowest-vec_id members
    -- deterministic, oracle-expressible seeding) and pair-join within
    (cell, sub-cell) blocks, with the SAME uniform-share rule one level
    down (sub-cell n > cell_n // sub_k -> residual, emitted AS DATA).
    This is the closed pipeline a 100 TB SemDeDup runs: the quadratic
    join is bounded at BOTH levels, and what still overflows after a
    re-cluster is, with overwhelming probability, a byte-duplicate pile
    -- exactly what exact/MinHash dedup (dedup_exact_groups,
    dedup_minhash_lsh) is for, so the residual rows are its worklist.

    Scale shape of stage 2: sub-centroids are <= k * sub_k rows BY
    CONSTRUCTION (collected like every other k-row centroid table),
    so sub-assignment is a centroid-LITERAL projection per hot cell --
    the O4 zero-join, zero-shuffle discipline (operators/kmeans.py:
    assign_nd) behind a CASE on cell_id -- never a fan-out join plus
    per-vector argmin shuffle.  The sub-cap exclusion reuses the
    broadcast anti-join shape (the hot-key list is tiny at any scale).
    """
    from ..operators.kmeans import _argmin_sql, _dists_sql_nd
    from ..operators.similarity import within_cell_cosine_pairs

    pairs, capped, assigned = _semantic_dedup_build(
        spark, sf_dir, uniform_cap_share=8
    )
    top = pairs.select(
        F.lit("pair").alias("kind"), "vec_a", "vec_b", "cos_sim"
    )
    # Hot-cell members: semi-join against the (tiny) capped-cell list.
    hot = assigned.join(
        F.broadcast(capped.select("cell_id")), "cell_id", "semi"
    )
    wseed = Window.partitionBy("cell_id").orderBy("vec_id")
    seed_rows = (
        hot.withColumn("rn", F.row_number().over(wseed))
        .where(F.col("rn") <= sub_k)
        .select("cell_id", "rn", "emb")
        .collect()
    )  # <= k * sub_k rows: driver-small by construction
    if not seed_rows:
        # No hot cells (or empty corpus): stage 2 vanishes; the result
        # is the pair rows alone.  cos_sim must stay NULLABLE (the full
        # path unions a lit(NULL) branch), and Spark folds
        # when(true, c) back to non-null c -- so union a ZERO-ROW
        # branch carrying the same NULL literal the full path has.
        return top.unionByName(
            top.limit(0).select(
                "kind",
                "vec_a",
                "vec_b",
                F.lit(None).cast("double").alias("cos_sim"),
            )
        ), [assigned], None

    cells: dict[int, list[list[float]]] = {}
    for r in sorted(seed_rows, key=lambda r: (r["cell_id"], r["rn"])):
        cells.setdefault(r["cell_id"], []).append(list(r["emb"]))
    dists_case = (
        "CASE "
        + " ".join(
            f"WHEN cell_id = {c} THEN {_dists_sql_nd(cs, 'emb')}"
            for c, cs in sorted(cells.items())
        )
        + " END"
    )
    subassigned = (
        hot.withColumn("_sd", F.expr(dists_case))
        .withColumn("sub_id", F.expr(_argmin_sql("_sd")))
        .drop("_sd")
        .withColumn(
            "blk", (F.col("cell_id") * sub_k + F.col("sub_id")).cast("int")
        )
        .persist()  # consumed by subcounts + both pair-join sides
    )
    subcounts = subassigned.groupBy("cell_id", "sub_id", "blk").agg(
        F.count(F.lit(1)).alias("n")
    )
    # Per-cell uniform-share cap one level down: integer floor division
    # in BOTH engines (the minhash MAX_BAND_BUCKET / capped precedent).
    # The capped-sub-block list is <= k * sub_k rows BY CONSTRUCTION
    # (one row per sub-cell), so collect it (r11, guide §1.2/§5): this
    # one job replaces the former dedicated eager-fill count() --
    # computing subcounts populates the subassigned cache in a single
    # gated pass -- AND turns every downstream capped_sub consumer
    # (the anti-join broadcast, the residual semi-join, the
    # kind='capped_subcell' union branch) into a driver-local literal,
    # so the final union job stops recomputing the aggregate+join
    # subtree.  Without the collect, the union's capped_subcell branch
    # is NOT gated on the pair branches' broadcast and would race the
    # broadcast build on the cold cache -- the r10 race, re-entered.
    cap_rows = (
        subcounts.join(
            F.broadcast(capped.withColumnRenamed("n", "cell_n")), "cell_id"
        )
        .where(F.col("n") > F.floor(F.col("cell_n") / sub_k))
        .select("blk", "n")
        .collect()
    )
    capped_sub = spark.createDataFrame(
        sorted((r["blk"], r["n"]) for r in cap_rows), "blk int, n bigint"
    )
    sub_kept = subassigned.join(
        F.broadcast(capped_sub.select("blk")), "blk", "left_anti"
    )
    sub_pairs, _ = within_cell_cosine_pairs(
        sub_kept, dim=64, threshold=0.35, cell_col="blk", max_cell=None
    )
    vec_t = assigned.schema["vec_id"].dataType
    out = top.unionByName(
        sub_pairs.select(
            F.lit("subpair").alias("kind"), "vec_a", "vec_b", "cos_sim"
        )
    ).unionByName(
        capped_sub.select(
            F.lit("capped_subcell").alias("kind"),
            F.col("blk").cast(vec_t).alias("vec_a"),
            F.col("n").cast(vec_t).alias("vec_b"),
            F.lit(None).cast("double").alias("cos_sim"),
        )
    )
    # parts: the stage-2 internals, exposed so the residual-routing
    # query (dedup_semantic_residual_exact) consumes the SAME split
    # instead of restating it.
    parts = {"subassigned": subassigned, "capped_sub": capped_sub}
    return out, [assigned, subassigned], parts


# The shared oracle CTE chain of the SemDeDup stage-2 split (top-level
# assignment -> uniform-share cap -> hot cells -> seeds -> sub-assignment
# -> sub-cell counts).  ONE definition consumed by BOTH
# dedup_semantic_recursive and dedup_semantic_residual_exact, mirroring
# how the Spark side shares _semantic_recursive_build -- so neither the
# engine NOR the oracle halves of the two queries can drift (the
# _IVF_DIST precedent applied to a whole CTE block).
_SEMANTIC_SUB_CTES = f"""cents AS (
        SELECT CAST(vec_id AS INTEGER) AS cell_id, embedding::DOUBLE[] AS cemb
        FROM embeddings WHERE vec_id < 8
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    assigned AS MATERIALIZED (
        SELECT vec_id, emb, cell_id FROM (
            SELECT e.vec_id, e.emb, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_IVF_DIST.format(a="e.emb", b="c.cemb")},
                                c.cell_id
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    counts AS MATERIALIZED (
        SELECT cell_id, count(*) AS n FROM assigned GROUP BY cell_id
    ),
    cap AS (SELECT count(*) // 8 AS c FROM assigned),
    hot AS MATERIALIZED (
        SELECT a.vec_id, a.emb, a.cell_id, k.n AS cell_n
        FROM assigned a JOIN counts k ON k.cell_id = a.cell_id, cap
        WHERE k.n > cap.c
    ),
    seeds AS MATERIALIZED (
        SELECT cell_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY cell_id ORDER BY vec_id) - 1 AS INTEGER)
                   AS sub_id,
               emb AS semb
        FROM hot
        QUALIFY ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY vec_id)
                <= 4
    ),
    subassigned AS MATERIALIZED (
        SELECT vec_id, emb, cell_id, cell_n, sub_id FROM (
            SELECT h.vec_id, h.emb, h.cell_id, h.cell_n, s.sub_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY h.vec_id
                       ORDER BY {_IVF_DIST.format(a="h.emb", b="s.semb")},
                                s.sub_id
                   ) AS rn
            FROM hot h JOIN seeds s ON s.cell_id = h.cell_id
        ) WHERE rn = 1
    ),
    subcounts AS MATERIALIZED (
        SELECT cell_id, sub_id, any_value(cell_n) AS cell_n,
               count(*) AS n
        FROM subassigned GROUP BY cell_id, sub_id
    )"""

# The shared pair CTEs one level up: kept top-level cells + kept
# sub-cells + the tagged pair union (cos kept UNROUNDED here so the
# survivor chain can consume the edges while the recursive query
# rounds only at emission).  Consumed by dedup_semantic_recursive and
# dedup_semantic_survivors.
_SEMANTIC_PAIR_CTES = """kept AS (
        SELECT a.vec_id, a.emb, a.cell_id
        FROM assigned a JOIN counts k ON k.cell_id = a.cell_id, cap
        WHERE k.n <= cap.c
    ),
    sub_kept AS (
        SELECT sa.vec_id, sa.emb, sa.cell_id, sa.sub_id
        FROM subassigned sa
        JOIN subcounts sc
          ON sc.cell_id = sa.cell_id AND sc.sub_id = sa.sub_id
        WHERE sc.n <= sc.cell_n // 4
    ),
    sem_pairs AS (
        SELECT 'pair' AS kind, a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))) AS cos_raw
        FROM kept a JOIN kept b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
        UNION ALL
        SELECT 'subpair' AS kind, a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))) AS cos_raw
        FROM sub_kept a JOIN sub_kept b
          ON a.cell_id = b.cell_id AND a.sub_id = b.sub_id
             AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
    )"""


@query(
    "dedup_semantic_recursive",
    oracle=f"""
    WITH {_SEMANTIC_SUB_CTES},
    {_SEMANTIC_PAIR_CTES}
    SELECT kind, vec_a, vec_b, round(cos_raw, 6) AS cos_sim
    FROM sem_pairs
    UNION ALL
    SELECT 'capped_subcell' AS kind,
           CAST(sc.cell_id * 4 + sc.sub_id AS BIGINT) AS vec_a,
           sc.n AS vec_b, CAST(NULL AS DOUBLE) AS cos_sim
    FROM subcounts sc WHERE sc.n > sc.cell_n // 4
    """,
    doc="The recursive sub-clustering pass over dedup_semantic_capped's "
    "routed cells (round-7 verdict item 2) -- the capped query ends "
    "with oversized cells 'returned for routing'; this query IS the "
    "route.  Hot cells (n > n_total // 8) are re-clustered against 4 "
    "sub-centroids (the cell's lowest-vec_id members: deterministic "
    "seeding both engines can state), members pair-join within "
    "(cell, sub-cell) blocks, and the uniform-share rule applies "
    "again one level down: a sub-cell with n > cell_n // 4 is emitted "
    "as kind='capped_subcell' (blk, n) -- after a re-cluster, what "
    "still overflows is a near-identical pile, which is exact/MinHash "
    "dedup's job, not a cosine join's.  Sub-assignment is a "
    "centroid-LITERAL projection behind a CASE on cell_id (the O4 "
    "zero-shuffle discipline; seeds are <= k*4 rows by construction), "
    "sub-cap exclusion is a broadcast anti-join, and every cap is "
    "integer floor division in BOTH engines.  kinds: 'pair' (kept "
    "top-level cells), 'subpair' (kept sub-cells), 'capped_subcell' "
    "(residual routed to exact dedup).",
)
def dedup_semantic_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, deps, _ = _semantic_recursive_build(
        spark, sf_dir, consumer="recursive"
    )
    return _eager(spark, out, deps=deps)


# The residual relation (members of sub-cells that exceeded the
# per-cell uniform share), shared verbatim by the residual-exact and
# survivors oracles -- same zero-drift discipline as the other two
# constants.
_SEMANTIC_RESIDUAL_CTE = """residual AS (
        SELECT sa.vec_id, sa.emb,
               CAST(sa.cell_id * 4 + sa.sub_id AS INTEGER) AS blk
        FROM subassigned sa
        JOIN subcounts sc
          ON sc.cell_id = sa.cell_id AND sc.sub_id = sa.sub_id
        WHERE sc.n > sc.cell_n // 4
    )"""


# Rounds for the survivors oracle's UNROLLED min-label closure.  Each
# round applies lab := least(lab, min-over-neighbors(lab), lab[lab])
# -- the same operator as operators.dedup.connected_components
# (neighbor-min propagation + pointer jumping), so the reach DOUBLES
# per round.  Measured fixpoint: 3 rounds at sf0.001/0.01, 10 at
# sf0.1 (the cosine graph carries ~500-long chains); 16 covers
# diameter ~2^15 with margin, and the error() guard below turns an
# insufficient bound into a LOUD failure instead of silently wrong
# labels.  Cost is linear in rounds (one edge join + one label
# self-join each), which is the whole point: the old recursive-CTE
# closure materialized full reachability (sum |C|^2) and blew up at
# 100x duplication while the engine finished in minutes (r8 verdict
# item 3) -- this keeps the oracle in the query's complexity class,
# the rel_asof_join / dedup_lsh_verified lesson applied to CC.
_SURVIVOR_CLOSURE_ROUNDS = 16


def _minlabel_closure_sql(rounds: int) -> str:
    """The unrolled min-label closure CTE chain: lab0..lab{rounds},
    final ``labels``, and a ``notconv`` guard relation that is
    non-empty iff some edge still crosses two labels (the fixpoint
    test: at fixpoint labels are constant per component, and the
    min-id member keeps its own id, so constant-per-component =
    component min).  Every lab level is MATERIALIZED: each is read
    three times by the next round, and an inlined CTE would recompute
    its whole ancestry per reference."""
    parts = ["lab0 AS MATERIALIZED (SELECT node, node AS comp FROM nodes)"]
    for i in range(rounds):
        p = f"lab{i}"
        parts.append(
            f"""lab{i + 1} AS MATERIALIZED (
        SELECT p.node,
               least(p.comp, coalesce(n.comp, p.comp),
                     coalesce(j.comp, p.comp)) AS comp
        FROM {p} p
        LEFT JOIN (SELECT e.a AS node, min(x.comp) AS comp
                   FROM edges e JOIN {p} x ON x.node = e.b
                   GROUP BY e.a) n ON n.node = p.node
        LEFT JOIN (SELECT y.node, z.comp FROM {p} y
                   JOIN {p} z ON z.node = y.comp) j ON j.node = p.node
    )"""
        )
    parts.append(
        f"labels AS MATERIALIZED (SELECT node, comp FROM lab{rounds})"
    )
    parts.append(
        """notconv AS (
        SELECT 1 AS one FROM edges e
        JOIN labels la ON la.node = e.a
        JOIN labels lb ON lb.node = e.b
        WHERE la.comp <> lb.comp LIMIT 1
    )"""
    )
    return ",\n    ".join(parts)


@query(
    "dedup_semantic_survivors",
    oracle=f"""
    WITH {_SEMANTIC_SUB_CTES},
    {_SEMANTIC_PAIR_CTES},
    {_SEMANTIC_RESIDUAL_CTE},
    keepers AS (
        SELECT blk, emb, min(vec_id) AS keeper
        FROM residual GROUP BY blk, emb
    ),
    clone_edges AS (
        SELECT r.vec_id AS va, k.keeper AS vb
        FROM residual r
        JOIN keepers k ON k.blk = r.blk AND k.emb = r.emb
        WHERE r.vec_id <> k.keeper
    ),
    edges AS MATERIALIZED (
        SELECT vec_a AS a, vec_b AS b FROM sem_pairs
        UNION ALL SELECT vec_b, vec_a FROM sem_pairs
        UNION ALL SELECT va, vb FROM clone_edges
        UNION ALL SELECT vb, va FROM clone_edges
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    {_minlabel_closure_sql(_SURVIVOR_CLOSURE_ROUNDS)}
    SELECT CAST(emb.vec_id AS BIGINT) AS vec_id
    FROM embeddings emb
    WHERE NOT EXISTS (
        SELECT 1 FROM labels l
        WHERE l.node = emb.vec_id AND l.comp <> emb.vec_id
    )
    UNION ALL
    SELECT CAST(error('dedup_semantic_survivors oracle: min-label '
        'closure not converged within {_SURVIVOR_CLOSURE_ROUNDS} '
        'unrolled rounds') AS BIGINT) FROM notconv
    """,
    doc="The semantic chain's DELETE step -- what a user actually wants "
    "from SemDeDup: the cleaned corpus.  Edges = the recursive pass's "
    "cosine pairs ('pair' + 'subpair') PLUS keeper edges from the "
    "residual exact pass (each clone -> its group's min-vec_id "
    "keeper), resolved into duplicate clusters by the SAME "
    "min-label-propagation operator as dedup_components (pointer "
    "jumping, O(log diameter) rounds), then survivors = corpus minus "
    "non-canonical members via broadcast anti-join -- the corpus side "
    "never shuffles.  Composing both edge sources closes the "
    "capped-path recall hole: members of a routed sub-cell ARE "
    "deduped (exactly) rather than merely reported.  The oracle runs "
    "the SAME min-label + pointer-jumping operator as the engine, "
    "UNROLLED to _SURVIVOR_CLOSURE_ROUNDS rounds over the shared "
    "pair/residual CTEs (one definition, zero drift), with an "
    "error() guard that fires iff any edge still crosses two labels "
    "-- an insufficient bound is LOUD, never silently wrong.  The r8 "
    "oracle's recursive-CTE closure materialized full reachability "
    "(sum |C|^2) and blew up at 100x duplication; rewriting it into "
    "the query's complexity class (the rel_asof_join / "
    "dedup_lsh_verified lesson) retired that wall: 100x-green, 1473 "
    "survivors hash-equal in ~26 min total -- the survivor set is "
    "scale-INVARIANT under verbatim duplication (every replica "
    "coalesces into its original's component), itself a correctness "
    "signal.  The only remaining 100x exclusion in the SemDeDup "
    "family is dedup_semantic_clustered (uncapped-join contract).",
)
def dedup_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components_local

    out, deps, parts = _semantic_recursive_build(
        spark, sf_dir, consumer="survivors"
    )
    pair_edges = out.where(F.col("kind") != "capped_subcell").select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    edges = pair_edges
    if parts is not None:
        residual = parts["subassigned"].join(
            F.broadcast(parts["capped_sub"].select("blk")), "blk", "semi"
        )
        wk = Window.partitionBy("blk", "emb")
        clone_edges = (
            residual.withColumn("keeper", F.min("vec_id").over(wk))
            .where(F.col("vec_id") != F.col("keeper"))
            .select(
                F.col("vec_id").alias("doc_a"),
                F.col("keeper").alias("doc_b"),
            )
        )
        edges = edges.unionByName(clone_edges)
    # Candidate edges are pair-scale small (collect-bounded by the
    # stage-1/2 caps); collect them once, release the build's persisted
    # intermediates, and resolve the min-label fixpoint with a driver
    # union-find (r11: the distributed label-propagation loop, even
    # under iteration_confs, spent 2.8-5.2 s of fixed job latency on a
    # 540-edge graph; see dedup_components).
    # Only the LOSERS -- bounded by the pair graph's node count, never
    # corpus-scale -- go back out, as a broadcast anti-join, so the
    # corpus side still never shuffles.
    try:
        edge_rows = edges.collect()
    finally:
        for dep in deps:
            dep.unpersist()
    labels = connected_components_local(
        (r["doc_a"], r["doc_b"]) for r in edge_rows
    )
    losers = spark.createDataFrame(
        sorted((int(n),) for n, c in labels.items() if n != c),
        "vec_id bigint",
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").cast("bigint").alias("vec_id"))
        .join(F.broadcast(losers), "vec_id", "left_anti")
    )


_RESIDUAL_SCHEMA = (
    "blk int, n_members bigint, n_distinct bigint, n_dupes bigint, "
    "max_clone_group bigint"
)


@query(
    "dedup_semantic_residual_exact",
    oracle=f"""
    WITH {_SEMANTIC_SUB_CTES},
    {_SEMANTIC_RESIDUAL_CTE},
    clone_groups AS (
        SELECT blk, emb, CAST(count(*) AS BIGINT) AS n
        FROM residual GROUP BY blk, emb
    )
    SELECT blk, CAST(sum(n) AS BIGINT) AS n_members,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dupes,
           CAST(max(n) AS BIGINT) AS max_clone_group
    FROM clone_groups GROUP BY blk
    """,
    doc="The LAST hop of the SemDeDup routing chain: what still "
    "overflows after re-clustering (dedup_semantic_recursive's "
    "kind='capped_subcell' blocks) is handled by the strategy that "
    "actually fits a near-identical pile -- EXACT dedup.  Groups the "
    "residual members on the full 64-dim vector (hash-aggregate on "
    "(blk, emb): LINEAR, one shuffle, map-side combine) and reports "
    "per-block clone accounting: n_members, n_distinct, n_dupes, and "
    "the largest identical-vector pile.  This is the operation that "
    "still runs where the cosine join cannot: on a 100x-duplicated "
    "corpus the capped blocks are quadratic piles for the pair join "
    "but a single linear pass here, with max_clone_group ~ the "
    "duplication factor -- the worklist exact/MinHash dedup "
    "(dedup_exact_groups, dedup_minhash_lsh) then consumes.  Shares "
    "the recursive query's split verbatim via "
    "_semantic_recursive_build, so the two relations cannot drift.",
)
def dedup_semantic_residual_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, deps, parts = _semantic_recursive_build(
        spark, sf_dir, consumer="residual_exact"
    )
    # One explicit schema for every corpus shape (empty, no-hot-cells,
    # full): aggregate nullability would otherwise differ between the
    # computed and short-circuit paths.
    if parts is None:
        for d in deps:
            d.unpersist()
        return spark.createDataFrame([], _RESIDUAL_SCHEMA)
    residual = parts["subassigned"].join(
        F.broadcast(parts["capped_sub"].select("blk")), "blk", "semi"
    )
    groups = residual.groupBy("blk", "emb").agg(
        F.count(F.lit(1)).alias("n")
    )
    report = groups.groupBy("blk").agg(
        F.sum("n").alias("n_members"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_dupes"),
        F.max("n").alias("max_clone_group"),
    )
    try:
        rows = report.collect()
    finally:
        for d in deps:
            d.unpersist()
    return spark.createDataFrame(rows, _RESIDUAL_SCHEMA)


@query(
    "text_contamination",
    oracle="""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct([
            list_aggregate(toks[i:i+2], 'string_agg', ' ')
            FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)
        ])) AS shingle
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
              FROM corpus GROUP BY doc_id),
    hits AS (
        SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id
    )
    SELECT h.doc_id, h.n_overlap, s.n_shingles,
           CAST(h.n_overlap AS DOUBLE) / s.n_shingles
               AS overlap_ratio,
           CAST(h.n_overlap AS DOUBLE) / s.n_shingles >= 0.5 AS contaminated
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    """,
    doc="Benchmark-contamination check for training corpora: distinct "
    "3-gram shingle overlap between every corpus document and a "
    "(small) held-out benchmark set (here doc_id % 97 = 0), reporting "
    "per-doc overlap count / ratio and a contaminated flag at ratio "
    ">= 0.5.  The benchmark shingle set is broadcast -- benchmarks are "
    "KBs-to-MBs while the corpus is the 100 TB side, so the corpus "
    "never shuffles: explode + broadcast-hash-join + per-doc count is "
    "one pass over the data.  The standard decontamination pass every "
    "LLM data pipeline runs before training.",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, corpus = _contamination_build(spark, sf_dir)
    return _eager(spark, out, deps=[corpus])


def _contamination_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Lazy contamination plan + its persisted dependency (exposed
    separately so tests/test_plans.py can audit the broadcast shape
    without the _eager collect)."""
    from ..functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = F.array_distinct(word_shingles("text", 3))
    bench = (
        d.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(sh).alias("shingle"))
        .distinct()
    )
    # Materialize per-doc shingle arrays once (two consumers: explode
    # side + sizes side) -- same contract as dedup_ngram_jaccard.
    corpus = (
        d.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", sh.alias("_sh"))
        .persist()
    )
    shingles = corpus.select("doc_id", F.explode("_sh").alias("shingle"))
    sizes = corpus.select(
        "doc_id", F.size("_sh").cast("bigint").alias("n_shingles")
    )
    hits = (
        shingles.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    out = (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_overlap",
            "n_shingles",
            ratio.alias("overlap_ratio"),
            (ratio >= 0.5).alias("contaminated"),
        )
    )
    return out, corpus


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming exact dedup with bounded state: "
    "dropDuplicatesWithinWatermark on (user_id, event_type) keeps each "
    "key in state only until the 2 h watermark passes it -- the only "
    "dedup formulation that survives an unbounded stream (plain "
    "dropDuplicates retains ALL keys forever).  Projected to the key "
    "columns so the result is arrival-order-independent.  The fixture "
    "drains as ONE microbatch (one parquet file), so no key's state is "
    "evicted mid-run and the emitted set equals SELECT DISTINCT; with "
    "eviction (a key recurring later than the watermark delay) the "
    "stream would legitimately re-emit -- that semantics is covered by "
    "the multi-batch unit test in tests/test_streaming.py.",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.streams import dedup_stream, read_events_stream

    return _drain_stream_to_table(
        spark,
        lambda: dedup_stream(
            read_events_stream(spark, sf_dir), keys=["user_id", "event_type"]
        ).select("user_id", "event_type"),
        "_gate_dedup_",
    )


@query(
    "stream_dedup_rocksdb_changelog",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="stream_dedup drained under RocksDB + CHANGELOG checkpointing "
    "(VERDICT r4 optional item): per-commit checkpoint cost becomes "
    "O(batch churn) -- key deltas in N.changelog files -- instead of "
    "O(total state) full-SST snapshot uploads, which is the difference "
    "between shipping kilobytes and re-uploading a multi-TB dedup "
    "state every trigger at 100 TB stream scale.  Same oracle as "
    "stream_dedup by contract: checkpoint format never changes "
    "results, and this row makes that claim driver-hash-checked.  "
    "tests/test_streaming.py additionally asserts the .changelog "
    "files (and no full-snapshot zips) actually appear in the state "
    "dir.  Confs are set before the build and restored after, so "
    "neighboring gate queries keep the default provider.",
)
def stream_dedup_rocksdb_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.streams import (
        CHANGELOG_CONF,
        dedup_stream,
        read_events_stream,
        use_rocksdb_state,
    )

    prov = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov)
    old_chlog = spark.conf.get(CHANGELOG_CONF, None)
    try:
        use_rocksdb_state(spark, changelog=True)
        return _drain_stream_to_table(
            spark,
            lambda: dedup_stream(
                read_events_stream(spark, sf_dir),
                keys=["user_id", "event_type"],
            ).select("user_id", "event_type"),
            "_gate_dedup_chlog_",
        )
    finally:
        spark.conf.set(prov, old_prov)
        if old_chlog is None:
            spark.conf.unset(CHANGELOG_CONF)
        else:
            spark.conf.set(CHANGELOG_CONF, old_chlog)


@query(
    "sim_int8_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    codes AS (
        SELECT vec_id,
               CASE WHEN amax > 0
                    THEN [round(x / (amax / 127.0)) FOR x IN emb]
                    ELSE [0.0 FOR x IN emb] END AS code
        FROM (SELECT vec_id, emb,
                     list_max([abs(x) FOR x IN emb]) AS amax
              FROM e)
    ),
    q AS (SELECT vec_id AS q_id, code AS q_code FROM codes
          WHERE vec_id IN {_QUERY_IDS})
    SELECT q_id, vec_id AS neighbor_id, cos8, rank FROM (
        SELECT q.q_id, c.vec_id,
               round(list_dot_product(q.q_code, c.code)
                     / (sqrt(list_dot_product(q.q_code, q.q_code))
                        * sqrt(list_dot_product(c.code, c.code))), 6) AS cos8,
               ROW_NUMBER() OVER (
                   PARTITION BY q.q_id
                   ORDER BY list_dot_product(q.q_code, c.code)
                        / (sqrt(list_dot_product(q.q_code, q.q_code))
                           * sqrt(list_dot_product(c.code, c.code))) DESC,
                        c.vec_id
               ) AS rank
        FROM q CROSS JOIN codes c
        WHERE q.q_id <> c.vec_id
    ) WHERE rank <= 10
    """,
    doc="Quantized similarity serving: int8-code cosine top-10 for the "
    "same 3 queries as sim_topk_bruteforce, hash-checked end-to-end "
    "(quantize -> code dot product -> rank).  The scales cancel in the "
    "normalized dot product, so scoring runs entirely on the tinyint "
    "codes -- a 4x smaller scan than the float path, which is the whole "
    "point at index scale; sim_topk_bruteforce is the float baseline "
    "the recall tests compare against (tests/test_similarity.py).  "
    "Same broadcast-queries / shuffle-free-scoring shape as the float "
    "path; the oracle mirrors Spark's round-half-away quantization "
    "exactly (round(x / (max|x|/127))).",
)
def sim_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import int8_cosine, quantize_embeddings_int8

    e = load_table(spark, sf_dir, "embeddings")
    codes = quantize_embeddings_int8(e)
    q = codes.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("q_code").alias("qq_code"),
    )
    sim = int8_cosine("qq_code", "q_code")
    w = Window.partitionBy("q_id").orderBy(
        F.col("_sim8").desc(), F.col("vec_id")
    )
    return (
        codes.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("vec_id"))
        .withColumn("_sim8", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("_sim8", 6).alias("cos8"),
            "rank",
        )
    )


@query(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE mh AS MATERIALIZED ({_minhash_sql()}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM mh
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM mh
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
        SELECT node, node AS comp FROM nodes
        UNION
        SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(min(comp) AS BIGINT) AS component_id
    FROM reach GROUP BY node
    """,
    doc="Duplicate-CLUSTER resolution: MinHash/LSH candidate pairs "
    "resolved into connected components by iterative min-label "
    "propagation (operators/dedup.py:connected_components), output "
    "(doc_id, component_id = min doc id in the cluster).  The missing "
    "step between pair generation and deletion: keep-min-per-PAIR "
    "over-deletes whenever A~B and B~C.  The oracle is the transitive "
    "closure as a recursive CTE over the same md5-portable pair SQL -- "
    "label propagation's fixpoint IS the closure's min, so the hash "
    "check verifies actual convergence, not just plumbing.  Converges "
    "in O(cluster diameter) rounds; LSH clusters are quasi-cliques, so "
    "2-4 rounds in practice (the adversarial long-chain case is the "
    "large-star/small-star formulation, documented in the operator).",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components_local, minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    res = minhash_lsh_pairs(d, max_bucket=1000)
    # The pair set is collect-bounded by the band cap (the adjudicated
    # _eager contract since r5); once its rows are on the driver, the
    # min-label fixpoint is a union-find, not 4+ Spark jobs per
    # propagation round over a 1294-edge graph (r11: the distributed
    # loop, even under iteration_confs, cost 2.0-2.6 s of pure fixed
    # job latency here; corpus-scale edge lists -- curate.py -- keep
    # the distributed operator).
    try:
        pair_rows = res.pairs.select("doc_a", "doc_b").collect()
    finally:
        for dep in res.deps:
            dep.unpersist()
    labels = connected_components_local(
        (r["doc_a"], r["doc_b"]) for r in pair_rows
    )
    return spark.createDataFrame(
        sorted(labels.items()), "doc_id bigint, component_id bigint"
    )


@query(
    "pipe_doc_chunking",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, len(toks) AS n_tokens,
               unnest(range(0, greatest(len(toks), 1), 48)) AS chunk_start,
               toks
        FROM toks
    )
    SELECT doc_id,
           CAST(chunk_start / 48 AS BIGINT) AS chunk_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(least(64, n_tokens - chunk_start) AS BIGINT) AS chunk_len,
           md5(list_aggregate(
               toks[chunk_start + 1:chunk_start + least(64, n_tokens - chunk_start)],
               'string_agg', ' ')) AS chunk_md5
    FROM chunks
    """,
    doc="Long-document chunking with overlap: every document is split "
    "into windows of 64 tokens at stride 48 (16-token overlap so no "
    "context is lost at a boundary) -- the standard pre-training "
    "sequence-preparation step for documents longer than the model "
    "context.  Emits (doc_id, chunk_id, start, len, md5-of-chunk-text); "
    "the md5 makes the hash check content-verifying without shipping "
    "chunk bodies through the gate.  Pure JVM: tokenize once, "
    "sequence() for the stride grid, posexplode + slice + array_join "
    "-- a narrow per-row fan-out (like O5 multi-emit), zero shuffles, "
    "embarrassingly parallel at any corpus size.",
)
def pipe_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    size, stride = 64, 48
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)
    )
    chunk_len = F.least(F.lit(size), n - F.col("chunk_start"))
    return (
        t.select("doc_id", "toks", n.alias("n_tokens"), starts.alias("_starts"))
        .select(
            "doc_id",
            "toks",
            "n_tokens",
            F.posexplode("_starts").alias("chunk_id", "chunk_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            chunk_len.cast("bigint").alias("chunk_len"),
            F.md5(
                F.array_join(
                    F.slice(
                        "toks", F.col("chunk_start") + 1, chunk_len
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )


@query(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE mh AS MATERIALIZED ({_minhash_sql()}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM mh
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM mh
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
        SELECT node, node AS comp FROM nodes
        UNION
        SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    comps AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT node FROM comps WHERE node <> comp)
    """,
    doc="End-to-end near-dup dedup: the corpus minus every non-canonical "
    "duplicate-cluster member (canonical = min doc id per connected "
    "component of the MinHash/LSH pair graph).  Composes "
    "minhash_lsh_pairs -> connected_components -> broadcast anti-join: "
    "the duplicate set is tiny relative to the corpus (pairs only), so "
    "the corpus-side scan never shuffles -- the industrial shape for "
    "deleting near-dups from 100 TB.  Contrast dedup_exact_keep (exact "
    "twin) and dedup_components (the cluster view this consumes).",
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components_local, minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    res = minhash_lsh_pairs(d, max_bucket=1000)
    # Collect-bounded pair set -> driver union-find (see dedup_components;
    # r11).  The corpus side still never shuffles: losers are broadcast
    # into a left_anti join exactly as before.
    try:
        pair_rows = res.pairs.select("doc_a", "doc_b").collect()
    finally:
        for dep in res.deps:
            dep.unpersist()
    labels = connected_components_local(
        (r["doc_a"], r["doc_b"]) for r in pair_rows
    )
    dupes = spark.createDataFrame(
        sorted((n,) for n, c in labels.items() if n != c), "node bigint"
    )
    return d.join(
        F.broadcast(dupes), d.doc_id == dupes.node, "left_anti"
    ).select("doc_id")


@query(
    "rel_funnel",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN v ON e.user_id = v.user_id AND e.ts >= v.t1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN c ON e.user_id = c.user_id AND e.ts >= c.t2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'view_click', CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 'view_click_purchase', CAST(count(*) AS BIGINT) FROM p
    """,
    doc="Ordered event funnel (view -> click -> purchase): per-user "
    "earliest view, earliest click at-or-after it, earliest purchase "
    "at-or-after that; reports users reaching each stage.  Classic "
    "product-analytics shape the reference cannot express.  Every "
    "stage is a groupBy(user_id) + equi-join on user_id: after the "
    "first shuffle the stages are co-partitioned, so AQE reuses the "
    "partitioning instead of re-shuffling -- at 100 TB the funnel "
    "costs one user_id shuffle of the filtered events, not three.  "
    "Timestamps are only compared, never formatted (tz-independent).",
)
def rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .alias("e")
        .join(v.alias("v"), "user_id")
        .where(F.col("e.ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("e.ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .alias("e")
        .join(c.alias("c"), "user_id")
        .where(F.col("e.ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("e.ts").alias("t3"))
    )
    cnt = lambda df, s: df.agg(  # noqa: E731
        F.lit(s).alias("stage"), F.count(F.lit(1)).alias("n_users")
    )
    return (
        cnt(v, "view")
        .unionAll(cnt(c, "view_click"))
        .unionAll(cnt(p, "view_click_purchase"))
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH base AS (SELECT DISTINCT md5(text) AS h FROM documents
                  WHERE doc_id % 10 < 8),
    delta AS (SELECT doc_id, md5(text) AS h FROM documents
              WHERE doc_id % 10 >= 8),
    keep AS (SELECT h, CAST(min(doc_id) AS BIGINT) AS doc_id
             FROM delta GROUP BY h)
    SELECT doc_id FROM keep k
    WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.h = k.h)
    """,
    doc="Incremental (delta-vs-corpus) exact dedup: a new batch "
    "(doc_id % 10 >= 8 here; a daily increment in production) is "
    "deduped within itself (keep min doc_id per content hash) AND "
    "against the existing corpus's hash index (anti-join) -- nobody "
    "re-dedups 100 TB per day; you dedup the increment against a "
    "persisted digest index.  Only 16-byte digests move: the delta "
    "shuffles (it is the small side by construction), and at scale the "
    "base index is bucketed by hash so its side of the anti-join is "
    "scan-in-place.  Cross-batch semantics unit-tested with synthetic "
    "duplicates (tests/test_pipeline_compose.py).",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_dedup_keep

    d = load_table(spark, sf_dir, "documents")
    return incremental_dedup_keep(
        d.where(F.col("doc_id") % 10 < 8),
        d.where(F.col("doc_id") % 10 >= 8),
    )


_SQ8_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)


@query(
    "sim_ann_ivf_sq8",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(vec_id AS INTEGER) AS cell_id, embedding::DOUBLE[] AS cemb
        FROM embeddings WHERE vec_id < 4
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    codes AS (
        SELECT vec_id,
               CASE WHEN amax > 0
                    THEN [round(x / (amax / 127.0)) FOR x IN emb]
                    ELSE [0.0 FOR x IN emb] END AS code
        FROM (SELECT vec_id, emb,
                     list_max([abs(x) FOR x IN emb]) AS amax FROM e)
    ),
    indexed AS (
        SELECT vec_id, emb, cell_id FROM (
            SELECT e.vec_id, e.emb, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_IVF_DIST.format(a="e.emb", b="c.cemb")},
                                c.cell_id
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
          WHERE vec_id IN (0, 7, 42)),
    probes AS (
        SELECT q_id, q_emb, cell_id FROM (
            SELECT q.q_id, q.q_emb, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_IVF_DIST.format(a="q.q_emb", b="c.cemb")},
                                c.cell_id
                   ) AS rn
            FROM q CROSS JOIN cents c
        ) WHERE rn <= 2
    ),
    cand8 AS (
        SELECT q_id, q_emb, vec_id, emb FROM (
            SELECT p.q_id, p.q_emb, i.vec_id, i.emb,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.q_id
                       ORDER BY {_SQ8_COS.format(a="qc.code", b="ic.code")}
                                DESC, i.vec_id
                   ) AS rank8
            FROM probes p
            JOIN indexed i ON i.cell_id = p.cell_id
            JOIN codes qc ON qc.vec_id = p.q_id
            JOIN codes ic ON ic.vec_id = i.vec_id
            WHERE p.q_id <> i.vec_id
        ) WHERE rank8 <= 10
    )
    SELECT q_id, vec_id AS neighbor_id, cos_sim, rank FROM (
        SELECT q_id, vec_id,
               round({_SQ8_COS.format(a="q_emb", b="emb")}, 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id
                   ORDER BY {_SQ8_COS.format(a="q_emb", b="emb")} DESC,
                            vec_id
               ) AS rank
        FROM cand8
    ) WHERE rank <= 5
    """,
    doc="The full modern vector-serving stack composed and hash-checked "
    "end-to-end (FAISS IVF-SQ8 shape): route each query to its 2 "
    "nearest of 4 fixed cells (float distance, ties to lowest cell), "
    "score candidates INSIDE probed cells with int8-code cosine (the "
    "4x-smaller scan), keep the int8 top-10, then RESCORE those 10 "
    "with exact float cosine and return the top-5.  Every stage is "
    "deterministic relational algebra, so the oracle mirrors the whole "
    "pipeline -- cell assignment, quantization, both rankings.  At "
    "100 TB the int8 pass reads a quarter of the bytes and the float "
    "pass touches only 10 rows per query; the cell equi-join prunes "
    "the scan to nprobe/n_cells of the index.",
)
def sim_ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        int8_cosine,
        quantize_embeddings_int8,
    )
    from ..operators.kmeans import assign_nd
    from ..functions.distance import cosine_similarity
    from .kmeans_queries import _cents_nd

    e = load_table(spark, sf_dir, "embeddings")
    cents = _cents_nd(spark, sf_dir, k=4)
    codes = quantize_embeddings_int8(e)
    indexed = (
        assign_nd(e, cents, out="cell_id")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            "cell_id",
        )
        .join(codes, "vec_id")
    )
    q = e.where(F.col("vec_id").isin(0, 7, 42)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    from ..operators.similarity import route_to_cells

    probes = (
        route_to_cells(q, cents, nprobe=2)
        .join(
            codes.select(
                F.col("vec_id").alias("q_id"),
                F.col("q_code").alias("qq_code"),
            ),
            "q_id",
        )
    )
    sim8 = int8_cosine("qq_code", "q_code")
    w8 = Window.partitionBy("q_id").orderBy(
        F.col("_sim8").desc(), F.col("vec_id")
    )
    cand = (
        indexed.join(F.broadcast(probes), "cell_id")
        .where(F.col("q_id") != F.col("vec_id"))
        .withColumn("_sim8", sim8)
        .withColumn("rank8", F.row_number().over(w8))
        .where(F.col("rank8") <= 10)
    )
    simf = cosine_similarity("q_emb", "emb")
    wf = Window.partitionBy("q_id").orderBy(
        F.col("_sim").desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("_sim", simf)
        .withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= 5)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("_sim", 6).alias("cos_sim"),
            "rank",
        )
    )


# --- Corpus-wide boilerplate removal (CCNet-style duplicated-line strip) -----

@query(
    "text_boilerplate_strip",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest([
                   list_aggregate(t[(i-1)*8+1:(i-1)*8+8], 'string_agg', ' ')
                   FOR i IN range(1, CAST(ceil(len(t) / 8.0) AS INT) + 1)
               ]) AS chunk
        FROM toks
    ),
    g2 AS (
        SELECT doc_id, md5(chunk) AS ck,
               len(regexp_split_to_array(chunk, ' ')) AS wc
        FROM g
    ),
    freq AS (SELECT ck, count(DISTINCT doc_id) AS df FROM g2 GROUP BY ck)
    SELECT g2.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler_chunks,
           CAST(sum(CASE WHEN f.df < 2 THEN g2.wc ELSE 0 END) AS BIGINT)
               AS n_tokens_kept
    FROM g2 JOIN freq f USING (ck)
    GROUP BY g2.doc_id
    """,
    doc="CCNet-style boilerplate removal: split each doc into consecutive "
    "8-token segments, count each segment's corpus-wide document "
    "frequency, and strip segments appearing in >= 2 documents (the "
    "CCNet duplicated-line rule; real crawls segment on newlines -- the "
    "synthetic corpus has none, so fixed-width token windows stand in). "
    "Scale shape: the frequency shuffle and the join back both key on "
    "the segment's 16-byte md5 digest, never the segment text, so "
    "shuffle bytes are O(segments), independent of segment width; the "
    "per-doc re-aggregation keys on doc_id.  Two digest-keyed "
    "shuffles total -- the same plan CCNet runs over Common Crawl.",
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    nch = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    g = d.select(F.col("doc_id"), F.explode(chunks).alias("chunk")).select(
        "doc_id",
        F.md5(F.col("chunk")).alias("ck"),
        F.size(F.split(F.col("chunk"), " ")).alias("wc"),
    )
    freq = g.groupBy("ck").agg(F.count_distinct("doc_id").alias("df"))
    return (
        g.join(freq, "ck")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias(
                "n_boiler_chunks"
            ),
            F.sum(F.when(F.col("df") < 2, F.col("wc")).otherwise(0)).alias(
                "n_tokens_kept"
            ),
        )
    )


# --- PII redaction ------------------------------------------------------------

#: Engine-portable PII regexes (valid Java regex AND RE2): kept to the
#: common subset -- char classes, \d, \b, bounded repetition.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d ]{6,}\d"


@query(
    "text_pii_scrub",
    oracle=rf"""
    WITH injected AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || doc_id || '@example.com now'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' from 10.0.' || (doc_id % 256) || '.1 logged'
                       ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                       THEN ' call +1 555 0' || (100 + doc_id % 900)
                            || ' 2345 today'
                       ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT)
               AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IPV4}', '<IP>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM injected
    """,
    doc="PII redaction: scrub emails / IPv4 addresses / phone numbers with "
    "engine-portable regexes (Java-regex AND RE2 common subset), counting "
    "redactions per type; the md5 of the scrubbed text hash-checks the "
    "full replacement semantics, not just the counts.  The synthetic "
    "corpus contains no PII, so both engines first inject deterministic "
    "doc_id-derived PII into a slice of docs -- the oracle then genuinely "
    "verifies match + replacement behavior.  Scale shape: a per-row "
    "regex projection, zero shuffles, whole-stage-codegen'd; this is "
    "the canonical pre-training scrub pass and it streams at scan "
    "speed on any corpus size.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (did % 256).cast("string"),
                F.lit(".1 logged"),
            ),
        ).otherwise(""),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" call +1 555 0"),
                (F.lit(100) + did % 900).cast("string"),
                F.lit(" 2345 today"),
            ),
        ).otherwise(""),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), 0))
        .cast("bigint")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# --- TF-IDF top terms ---------------------------------------------------------

@query(
    "text_tfidf_topterms",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, w, rank FROM (
        SELECT tf.doc_id, tf.term, tf.tf,
               tf.tf * (n.n_docs + 1.0) / (d.df + 1.0) AS w,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * (n.n_docs + 1.0) / (d.df + 1.0) DESC,
                            tf.term
               ) AS rank
        FROM tf JOIN dfreq d USING (term) CROSS JOIN n
    ) WHERE rank <= 3
    """,
    doc="Per-document top-3 salient terms by rarity-weighted term "
    "frequency: tf(doc,term) * (N+1)/(df(term)+1).  The rational weight "
    "replaces the classic tf*ln(N/df) because +-*/ are IEEE-exact and "
    "bit-identical across engines while ln() is library-dependent -- "
    "same ranking intent, hash-checkable; the weight is emitted "
    "UNROUNDED because the exact-integer multiply+divide is already "
    "bit-identical, whereas round() diverges on decimal-half ties "
    "(see pipe_quality_classifier).  Scale shape: one shuffle to "
    "(doc_id, term) for tf, one term-keyed shuffle for df (bounded by "
    "vocabulary, map-side combined), a term-keyed join back, and a "
    "per-doc window on the already-(doc,term)-clustered rows.  The "
    "N-scalar joins in as a broadcast of a 1-row aggregate -- no "
    "collect, no driver literal.",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    weight = F.col("tf") * (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
    w = Window.partitionBy("doc_id").orderBy(weight.desc(), "term")
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("w", weight)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "w", "rank")
    )


# --- Vocabulary build ---------------------------------------------------------

@query(
    "pipe_vocab_build",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    counts AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term
    ),
    total AS (SELECT sum(n) AS tot FROM counts),
    top AS (
        SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 256
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) - 1 AS BIGINT)
               AS vocab_id,
           term, n,
           sum(n) OVER (
               ORDER BY n DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / (SELECT tot FROM total) AS cum_frac
    FROM top
    """,
    doc="Tokenizer-prep vocabulary build: corpus unigram counts -> top-256 "
    "by (count desc, term) -> contiguous vocab ids 0..255 -> cumulative "
    "corpus-coverage fraction per rank (the curve that picks vocab "
    "size).  Scale shape: the count shuffle is vocabulary-bounded with "
    "map-side combine; top-256 compiles to TakeOrderedAndProject "
    "(per-partition top-k, tiny driver merge -- the full vocabulary "
    "never lands on one task); the id/coverage window then touches "
    "only the 256 survivors, and the corpus-total joins in as a "
    "broadcast 1-row aggregate.",
)
def pipe_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    top = counts.orderBy(F.col("n").desc(), "term").limit(256)
    w = Window.orderBy(F.col("n").desc(), "term")
    cum = Window.orderBy(F.col("n").desc(), "term").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("vocab_id", (F.row_number().over(w) - 1).cast("bigint"))
        .withColumn("cum_frac", F.sum("n").over(cum) / F.col("tot"))
        .select("vocab_id", "term", "n", "cum_frac")
    )


# --- Unigram language-model scoring (perplexity proxy) ------------------------

@query(
    "text_unigram_logprob",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    counts AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term
    ),
    total AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM counts),
    top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 256),
    cov AS (SELECT CAST(sum(n) AS DOUBLE) AS covered FROM top)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(-avg(CASE WHEN v.n IS NOT NULL THEN ln(v.n / tot)
                           ELSE ln(greatest(tot - covered, 1.0) / tot)
                      END), 6) AS nll
    FROM toks t
    LEFT JOIN top v USING (term), total, cov
    GROUP BY t.doc_id
    """,
    doc="CCNet-style LM quality proxy: per-doc mean negative log-prob "
    "under a corpus unigram model (top-256 vocabulary, all OOV mass in "
    "one smoothed bucket).  High nll = far from the corpus distribution "
    "-- the KenLM-perplexity filter of the CCNet pipeline reduced to its "
    "unigram core, which IS SQL-expressible and oracle-checkable.  "
    "Scale shape: the model build is the vocabulary-bounded count "
    "shuffle (map-side combine) + TakeOrderedAndProject top-256; "
    "scoring joins each token against the 256-row BROADCAST vocab -- "
    "hot tokens like stopwords never key a shuffle, so token skew is "
    "structurally impossible; the per-doc mean partial-aggregates "
    "map-side.  nll is a float mean over tokens (summation-order "
    "sensitive), so it rounds to 6 per the float-discipline policy; "
    "n/tot and the OOV ratio are single IEEE divisions, identical in "
    "both engines.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "term").limit(256)
    stats = counts.agg(F.sum("n").cast("double").alias("tot"))
    cov = top.agg(F.sum("n").cast("double").alias("covered"))
    logp = F.when(
        F.col("n").isNotNull(), F.log(F.col("n") / F.col("tot"))
    ).otherwise(
        F.log(F.greatest(F.col("tot") - F.col("covered"), F.lit(1.0)) / F.col("tot"))
    )
    return (
        toks.join(F.broadcast(top), "term", "left")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(cov))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg(logp), 6).alias("nll"),
        )
    )


# --- Hashed linear quality classifier -----------------------------------------

from ..functions.text import QC_WEIGHTS as _QC_WEIGHTS  # noqa: E402


@query(
    "pipe_quality_classifier",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, toks,
               CAST(list_sum([
                   {_QC_WEIGHTS}[
                       (CAST(('0x' || substr(md5('qc:' || tok), 1, 8))
                             AS BIGINT) % 16) + 1]
                   FOR tok IN toks
               ]) AS BIGINT) AS m
        FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           m / (1000.0 * len(toks)) AS score,
           m > 0 AS keep
    FROM scored
    """,
    doc="fastText-shaped hashed linear quality classifier as pure "
    "relational algebra: each token hashes (md5, engine-portable) into "
    "one of 16 buckets, a seeded integer milli-weight table scores it, "
    "and the per-doc mean margin decides keep/drop.  Weights are "
    "integers so the fold is exact and summation-order-free (float "
    "dot products hash-differ across engines); the final division "
    "normalizes once per doc and is deliberately UNROUNDED: one IEEE "
    "division of identical integers is bit-identical in both engines, "
    "while round() itself diverges on decimal-half ties (0.0639375 "
    "rounded up by Spark's HALF_UP-on-shortest-repr, down by DuckDB's "
    "binary-aware round).  Scale shape: a shuffle-free per-row "
    "projection -- the model is a 16-entry literal array compiled into "
    "the expression (the broadcast IS the plan, same pattern as the "
    "k-means centroid literals); inference streams at scan speed and "
    "is exactly how a trained linear scrubber deploys on 100 TB.",
)
def pipe_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score_cols

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", *quality_score_cols("text"))


# --- Dataset card -------------------------------------------------------------

@query(
    "pipe_dataset_card",
    oracle=rf"""
    WITH t AS (
        SELECT source, lang,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    scored AS (
        SELECT source, lang,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CAST(list_sum([
                   {_QC_WEIGHTS}[
                       (CAST(('0x' || substr(md5('qc:' || tok), 1, 8))
                             AS BIGINT) % 16) + 1]
                   FOR tok IN toks
               ]) AS BIGINT) AS m
        FROM t
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(sum(m) AS BIGINT) / (1000.0 * sum(n_tok)) AS mean_score
    FROM scored
    GROUP BY GROUPING SETS ((source, lang), (source), ())
    """,
    doc="The dataset card: the per-(source, lang) reporting table a "
    "corpus release ships -- document counts, token totals, "
    "quality-filter keep counts, and corpus-mean classifier score, "
    "with source-level and grand-total rows via GROUPING SETS.  Float "
    "discipline: every aggregate is an exact bigint sum (the integer "
    "classifier margin), and the mean is ONE division at the end -- "
    "order-free and bit-identical across engines, where avg(double) "
    "would hash-differ with summation order.  Scale shape: one "
    "map-side-combined shuffle keyed by the grouping-set tuples over "
    "per-row projected integers; output is bounded by "
    "sources x languages.",
)
def pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import hashed_linear_margin

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "lang",
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
        hashed_linear_margin("text").alias("m"),
    )
    return (
        scored.groupingSets(
            [("source", "lang"), ("source",), ()], "source", "lang"
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias("n_keep"),
            (F.sum("m") / (1000.0 * F.sum("n_tok"))).alias("mean_score"),
        )
    )


# --- UDAF surface: grouped-aggregate pandas UDF -------------------------------

@query(
    "udaf_median_by_type",
    oracle="""
    WITH v AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CASE WHEN max(n) % 2 = 1
                THEN max(CASE WHEN rn * 2 = n + 1 THEN value END)
                ELSE (max(CASE WHEN rn * 2 = n THEN value END)
                      + max(CASE WHEN rn * 2 = n + 2 THEN value END)) / 2.0
           END AS median_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM v GROUP BY event_type
    """,
    doc="The UDAF surface: a grouped-AGGREGATE pandas UDF computing the "
    "per-event-type median (functions/udfs.py:median_udaf), "
    "hash-checked against an explicit sort+middle-selection SQL twin "
    "that reproduces np.median's even-count (a+b)/2 formula exactly "
    "(quantile-interpolation forms differ in the last ulp).  Grouped "
    "UDAFs ship whole groups through Arrow to Python workers -- no "
    "map-side partials -- so the engine reserves them for "
    "bounded-cardinality group keys like this 5-value type column; "
    "the hot aggregation paths stay JVM-side.",
)
def udaf_median_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark disallows mixing a grouped-agg pandas UDF with JVM aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the count runs as a
    # separate JVM aggregation joined back on the 5-row group key.
    from ..functions.udfs import median_udaf

    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    med = e.groupBy("event_type").agg(
        median_udaf("value").alias("median_value")
    )
    cnt = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return med.join(cnt, "event_type")



# --- Filter-verify: LSH candidates rescored with exact Jaccard ----------------

def lsh_verified_plan(
    d: DataFrame, threshold: float = 0.5
) -> tuple[DataFrame, list[DataFrame]]:
    """(lazy verified-pairs frame, deps to unpersist after an action).

    Shared by the gate query and its plan audit so the audit inspects
    the REAL composition, not a private copy.  ``arrs`` is persisted:
    both join sides consume the string-heavy shingle expression (same
    rationale as dedup_ngram_jaccard's persist).
    """
    from ..functions.text import word_shingles
    from ..operators.dedup import minhash_lsh_pairs

    res = minhash_lsh_pairs(d, max_bucket=1000)
    arrs = d.select(
        "doc_id", F.array_distinct(word_shingles("text", 3)).alias("_sh")
    ).persist()
    # eager cache fill before the two-branch verify join (r10, the
    # minhash_lsh_pairs cold-cache-race finding)
    arrs.count()
    a = arrs.select(
        F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sha")
    )
    b = arrs.select(
        F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_shb")
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    jac = inter.cast("double") / union
    out = (
        res.pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", "est_jaccard", jac.alias("jaccard"))
    )
    return out, [*res.deps, arrs]


@query(
    "dedup_lsh_verified",
    oracle=_minhash_verified_sql(0.5),
    doc="The canonical two-stage near-dup pipeline composed end-to-end: "
    "MinHash/LSH banding generates candidate pairs (recall stage, "
    "never all-pairs), then ONLY those candidates are rescored with "
    "exact distinct-shingle Jaccard and kept at >= 0.5 (precision "
    "stage).  Exact scoring joins the per-doc shingle arrays to the "
    "candidate pair list and intersects in-row (array_intersect) -- "
    "cost is O(candidates x shingles-per-doc), independent of corpus "
    "pair count, which is why every production dedup runs "
    "filter-then-verify instead of either stage alone.  The exact "
    "jaccard is emitted unrounded (one IEEE division of identical "
    "integers; registry float discipline).",
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, deps = lsh_verified_plan(load_table(spark, sf_dir, "documents"))
    return _eager(spark, out, deps=deps)


# --- Cross-corpus (incremental-ingest) near-dup --------------------------------

def _minhash_cross_sql(
    new_pred: str = "source = 'src0'",
    num_hashes: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> str:
    """Oracle for :func:`dedup_cross_corpus`: the delta partition (rows
    matching ``new_pred``) banded-joined against the rest of the corpus.
    Same md5-derived signature pipeline as :func:`_minhash_sql`; the
    join arms pair new x ref instead of the self-join's ``a < b``.

    The REF-side band-bucket skew cap (minhash_cross_pairs excludes
    band keys held by > MAX_BAND_BUCKET ref docs) is mirrored here
    per band via ``count <= cap`` CTEs over refsig -- the bug-class-2
    lesson (one-sided caps pass every fixture scale where the cap
    never fires, then diverge exactly when the skew guard matters).
    It has never fired at any probed scale (ref buckets stay far
    below 1000 even at 100x), so this mirror changed no hashes --
    verified row-identical at sf0.01/sf0.1 before the swap."""
    from ..functions.hashing import MINHASH_P, minhash_params
    from ..operators.dedup import MAX_BAND_BUCKET

    r = num_hashes // bands
    params = minhash_params(num_hashes, seed)
    base = f"CAST(('0x' || substr(md5('mh{seed}:' || s), 1, 8)) AS BIGINT)"
    h_cols = ", ".join(
        f"list_min([ ({a} * {base} + {b}) % {MINHASH_P} FOR s IN shingles ]) AS h{j}"
        for j, (a, b) in enumerate(params)
    )

    def band_key(alias: str, b: int) -> str:
        return " AND ".join(
            f"{alias}.h{b * r + j} = k{b}.h{b * r + j}" for j in range(r)
        )

    kept_ctes = ", ".join(
        f"k{b} AS MATERIALIZED (SELECT "
        + ", ".join(f"h{b * r + j}" for j in range(r))
        + ", count(*) AS n FROM refsig GROUP BY "
        + ", ".join(f"h{b * r + j}" for j in range(r))
        + f" HAVING count(*) <= {MAX_BAND_BUCKET})"
        for b in range(bands)
    )
    band_arms = " UNION ALL ".join(
        "SELECT n.doc_id AS new_doc, x.doc_id AS ref_doc "
        "FROM newsig n JOIN refsig x ON "
        + " AND ".join(f"n.h{b * r + j} = x.h{b * r + j}" for j in range(r))
        + f" JOIN k{b} ON {band_key('x', b)}"
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source, {_SHINGLE_LIST_EXPR} AS shingles FROM toks
    ),
    sig AS MATERIALIZED (
        SELECT doc_id, source, {h_cols} FROM sh WHERE len(shingles) > 0
    ),
    newsig AS (SELECT * FROM sig WHERE {new_pred}),
    refsig AS MATERIALIZED (SELECT * FROM sig WHERE NOT ({new_pred})),
    {kept_ctes},
    cand AS ({band_arms}),
    pairs AS (SELECT DISTINCT new_doc, ref_doc FROM cand)
    SELECT p.new_doc, p.ref_doc,
           ({agree}) / {num_hashes}.0 AS est_jaccard
    FROM pairs p
    JOIN sig a ON a.doc_id = p.new_doc
    JOIN sig b ON b.doc_id = p.ref_doc
    """


@query(
    "dedup_cross_corpus",
    oracle=_minhash_cross_sql(),
    doc="Incremental-ingest near-dedup: a delta batch (source='src0') "
    "LSH-checked AGAINST the already-curated corpus, not against "
    "itself -- the asymmetric twin of dedup_minhash_lsh.  Same "
    "md5-portable signatures and banding; the join is new x ref with "
    "no self-pairing.  At steady state the reference side is a "
    "precomputed signature table bucketed by band key that never "
    "re-shuffles (signatures depend only on text), so ingesting a "
    "delta costs O(delta) signature work plus one banded join whose "
    "big side streams from disk pre-partitioned.  The ref-side skew "
    "cap bounds the |new_bucket| x |ref_bucket| blow-up on "
    "boilerplate bands (operators/dedup.py:minhash_cross_pairs).",
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_cross_pairs

    d = load_table(spark, sf_dir, "documents")
    res = minhash_cross_pairs(
        d.where(F.col("source") == "src0"),
        d.where(F.col("source") != "src0"),
        max_bucket=1000,
    )
    return _eager(spark, res.pairs, deps=res.deps)


# --- Gopher-style document quality rules ---------------------------------------

#: the Gopher paper's "required word" list (Rae et al. 2021, §A1.1 --
#: public): a document must contain at least 2 of these to pass.
GOPHER_REQ_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_GOPHER_REQ_SQL = ", ".join(f"'{w}'" for w in GOPHER_REQ_WORDS)

@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               CAST(list_sum([length(w) FOR w IN toks]) AS DOUBLE)
                   / len(toks) AS mean_word_len,
               CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
                    AS DOUBLE) / len(toks) AS frac_alpha_words,
               len(list_filter([{_GOPHER_REQ_SQL}],
                               s -> list_contains(toks, s)))
                   AS n_req_words
        FROM t
    )
    SELECT doc_id,
           CAST(n_words AS INTEGER) AS n_words,
           mean_word_len,
           frac_alpha_words,
           CAST(n_req_words AS INTEGER) AS n_req_words,
           CAST(n_words BETWEEN 10 AND 100000
                AND mean_word_len BETWEEN 2 AND 10
                AND frac_alpha_words >= 0.8
                AND n_req_words >= 2 AS BOOLEAN) AS pass_gopher
    FROM m
    """,
    doc="Gopher-style quality rules (Rae et al. 2021, public): word "
    "count bounds, mean word length in [2,10], fraction of words with "
    "an alphabetic character >= 0.8, and >= 2 of the 8 required English "
    "function words.  All four metrics are exact-integer ratios emitted "
    "unrounded (registry float discipline) so the pass flag's boundary "
    "comparisons agree bit-for-bit across engines.  Shuffle-free "
    "per-row projection, fully codegen'd -- at 100 TB this is a "
    "map-only pass that fuses with the scan.",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    mean_wl = sum_len.cast("double") / n
    frac_alpha = (
        F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("double") / n
    )
    req = F.array(*[F.lit(w) for w in GOPHER_REQ_WORDS])
    n_req = F.size(F.filter(req, lambda s: F.array_contains(toks, s)))
    passes = (
        n.between(10, 100000)
        & mean_wl.between(2.0, 10.0)
        & (frac_alpha >= 0.8)
        & (n_req >= 2)
    )
    return d.select(
        "doc_id",
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        n_req.alias("n_req_words"),
        passes.alias("pass_gopher"),
    )


# --- Tokenizer application (encode with the built vocabulary) ------------------

def _tokenizer_vocab_map(d: DataFrame):
    """Literal-map Column of the top-256-by-(count,term) vocabulary over
    ``d.text`` -- the 'tokenizer training' step.  DRIVER-SMALL BY
    CONSTRUCTION (top-k of a bounded id space): 256 rows collect."""
    counts = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab_rows = counts.orderBy(F.col("n").desc(), "term").limit(256).collect()
    mapping = [
        x
        for i, r in enumerate(vocab_rows)
        for x in (F.lit(r["term"]), F.lit(i))
    ]
    return F.create_map(*mapping)


def _tokenizer_encode_cols(vocab_map) -> list:
    """Shuffle-free encode projection shared by the batch query and its
    streaming twin: (doc_id, ids, n_tokens, n_oov), ids as a
    space-joined string of the first 32 vocab ids (-1 = OOV)."""
    toks = tokens("text")
    lookup = lambda t: F.coalesce(  # noqa: E731
        vocab_map[t], F.lit(-1)
    ).cast("int")
    return [
        F.col("doc_id"),
        F.array_join(
            F.transform(
                F.slice(toks, 1, 32), lambda t: lookup(t).cast("string")
            ),
            " ",
        ).alias("ids"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: vocab_map[t].isNull())).alias("n_oov"),
    ]


# Shared by pipe_tokenizer_apply and its streaming twin
# stream_tokenizer_encode: same vocabulary, same encode, same contract.
_TOKENIZER_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    flat AS (
        SELECT unnest(toks) AS term FROM toks
    ),
    counts AS (
        SELECT term, count(*) AS n FROM flat GROUP BY term
    ),
    top AS (
        SELECT term,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) - 1 AS INTEGER)
                   AS vocab_id
        FROM (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 256)
    ),
    pos AS (
        SELECT doc_id,
               unnest(toks) AS term,
               unnest(range(1, len(toks) + 1)) AS pos,
               len(toks) AS n_tokens
        FROM toks
    ),
    enc AS (
        SELECT p.doc_id, p.pos, p.n_tokens,
               CAST(coalesce(t.vocab_id, -1) AS INTEGER) AS id
        FROM pos p LEFT JOIN top t USING (term)
    )
    SELECT doc_id,
           string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos)
               FILTER (WHERE pos <= 32) AS ids,
           CAST(any_value(n_tokens) AS INTEGER) AS n_tokens,
           CAST(count(*) FILTER (WHERE id = -1) AS INTEGER) AS n_oov
    FROM enc
    GROUP BY doc_id
    """


@query(
    "pipe_tokenizer_apply",
    oracle=_TOKENIZER_ORACLE,
    doc="Tokenizer APPLICATION: encode every document into contiguous "
    "vocab ids (first 32 positions; -1 for out-of-vocabulary) plus "
    "full-document OOV count, using the same top-256-by-(count,term) "
    "vocabulary as pipe_vocab_build.  Scale shape: the vocabulary is "
    "DRIVER-SMALL BY CONSTRUCTION (top-k of a bounded id space), so it "
    "collects to 256 rows and bakes into the encode projection as a "
    "literal map -- the second job is then a shuffle-free map-only "
    "pass that fuses with the scan, exactly the centroid-literal "
    "pattern of the K-Means assign stage (operators/kmeans.py).  The "
    "join-based alternative would shuffle every (doc, token) pair; "
    "the oracle does precisely that, which is the point -- same "
    "result, different physics.  The encoded sequence is emitted as a "
    "space-joined STRING (not array<int>): the driver's pandas "
    "canonicalizer cannot sort/hash list cells (the r5 red row), and "
    "a delimiter-joined rendering is the hashable, order-preserving "
    "encoding -- same precedent as pipe_span_corruption's digest.",
)
def pipe_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(*_tokenizer_encode_cols(_tokenizer_vocab_map(d)))


# --- Streaming CDC-apply (SCD1 materialized view) ------------------------------

@query(
    "stream_upsert_latest",
    oracle="""
    WITH r AS (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id,
           epoch_us(ts) AS last_ts_us,
           value AS last_value
    FROM r WHERE rn = 1
    """,
    doc="Streaming CDC-apply: the events stream folded into an SCD1 "
    "materialized view (latest (ts,event_id)-ordered row per user) via "
    "a foreachBatch upsert into a parquet state table -- the streaming "
    "twin of rel_merge_upsert.  Batch-split-invariant and "
    "arrival-order-safe by construction (total order on (ts, "
    "event_id)), which is exactly what the batch oracle states: the "
    "drained view must equal a plain window argmax over all events.  "
    "Timestamps emitted as epoch micros (tz-independent).  State "
    "lineage is cut per batch (localCheckpoint) so the apply plan "
    "stays constant-size over an unbounded stream; "
    "streaming/streams.py:upsert_latest_foreach_batch documents the "
    "partitioned-overwrite scale path.  The passthrough double rides "
    "unrounded (no arithmetic on it in either engine).",
)
def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.streams import (
        read_events_stream,
        upsert_latest_foreach_batch,
    )

    root = tempfile.mkdtemp(prefix="_gate_upsert_")
    state = f"{root}/state"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        ev = read_events_stream(spark, sf_dir).select(
            "user_id", "ts", "event_id", "value"
        )
        q = (
            ev.writeStream.foreachBatch(
                upsert_latest_foreach_batch(spark, state)
            )
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, "upsert stream")
        final = spark.read.parquet(state).select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("value").alias("last_value"),
        )
        return _eager(spark, final)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_state_reader",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="The state-store READER (Spark 4 `statestore` data source): run "
    "a real streaming per-user running count to a checkpoint, then "
    "read the operator's state DIRECTLY from the checkpoint files -- "
    "key.user_id / value.count -- and hash-check it against the batch "
    "GROUP BY.  This is the ops/debugging surface for stateful "
    "streaming ('what is in state right now?'): the reader parses the "
    "HDFS-state-store snapshot+delta files partition-parallel, no "
    "source replay, no running query -- at production scale it is how "
    "state skew, leaks, and watermark bugs are diagnosed without "
    "stopping the job.  A running count with availableNow over the "
    "full fixture holds exactly one state row per user with the total "
    "count, which is what the oracle states; the memory sink's rows "
    "are deliberately ignored -- the CHECKPOINT is the artifact under "
    "test.",
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.streams import read_events_stream

    root = tempfile.mkdtemp(prefix="_gate_statereader_")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        ev = read_events_stream(spark, sf_dir).select("user_id")
        agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        q = (
            agg.writeStream.format("memory")
            .queryName(f"_gate_statereader_{next(_STREAM_RUNS)}")
            .outputMode("update")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, "state-reader stream")
        try:
            st = spark.read.format("statestore").load(f"{root}/ckpt")
        except Exception as exc:
            # An empty source commits no micro-batch, so the checkpoint
            # has no state version to read -- that's an empty state,
            # not an error.  Anything else propagates.
            if "STDS_COMMITTED_BATCH_UNAVAILABLE" not in str(exc):
                raise
            # lit(NULL) casts: nullable bigints, matching the schema the
            # statestore read yields (struct-field access is nullable).
            return spark.range(0).select(
                F.lit(None).cast("bigint").alias("user_id"),
                F.lit(None).cast("bigint").alias("n_events"),
            )
        out = st.select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").alias("n_events"),
        )
        return _eager(spark, out)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_tokenizer_encode",
    oracle=_TOKENIZER_ORACLE,
    doc="Streaming tokenizer application (VERDICT r5 item 7): the "
    "pipe_tokenizer_apply encode as a CONTINUOUS operator.  The "
    "vocabulary is trained once on the static corpus (one batch job, "
    "256-row collect) and baked into the encode projection as a "
    "literal map; the stream then runs that map-only projection per "
    "micro-batch straight into a parquet sink -- STATELESS streaming, "
    "no watermark, no state store, constant memory at any corpus "
    "rate, because the encode depends only on the row and the frozen "
    "vocab.  This is the online-inference half of the tokenizer "
    "lifecycle (train offline, apply on the ingest stream); the "
    "drained sink must hash-equal the batch query's full-corpus "
    "result, which is exactly what the shared oracle states.  At "
    "scale the sink is partitioned by arrival date and the vocab is "
    "versioned alongside the checkpoint so a vocab refresh is a new "
    "query, never in-place mutation.",
)
def stream_tokenizer_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.streams import read_documents_stream

    d = load_table(spark, sf_dir, "documents")
    vocab_map = _tokenizer_vocab_map(d)
    root = tempfile.mkdtemp(prefix="_gate_tok_stream_")
    out = f"{root}/encoded"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        enc = read_documents_stream(spark, sf_dir).select(
            *_tokenizer_encode_cols(vocab_map)
        )
        q = (
            enc.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, "tokenizer stream")
        return _eager(spark, spark.read.parquet(out))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_topk_types",
    oracle="""
    WITH hourly AS (
        SELECT CAST(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                    AS VARCHAR) AS hour_str,
               event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
        GROUP BY 1, 2
    )
    SELECT hour_str, event_type, n, rank FROM (
        SELECT hour_str, event_type, n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY hour_str ORDER BY n DESC, event_type
               ) AS BIGINT) AS rank
        FROM hourly
    ) WHERE rank <= 2
    """,
    doc="Streaming top-k finishing pattern: general window functions "
    "cannot run on an unbounded stream, so the heavy lifting -- the "
    "watermarked per-(window, type) count with evictable state -- runs "
    "as a REAL streaming job (availableNow drain, append mode), and the "
    "top-2-types-per-hour rank is a BATCH finishing pass over the "
    "compacted sink table (cardinality = windows x types, thousands of "
    "rows where the stream saw millions).  This is the production "
    "shape: stream aggregates into a compact store, ranking/serving "
    "reads the store.  Deterministic via the event_type tie-break; "
    "oracle replays both stages in batch SQL restricted to closed "
    "windows.",
)
def stream_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..streaming import hourly_counts_stream, read_events_stream

    drained = _drain_stream_to_table(
        spark,
        lambda: hourly_counts_stream(read_events_stream(spark, sf_dir)),
        "_gate_topktypes_",
    )
    w = Window.partitionBy("hour_str").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        drained.select("hour_str", "event_type", "n")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 2)
    )


@query(
    "pipe_sft_format",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               regexp_split_to_array(
                   trim(regexp_replace(regexp_replace(trim(lower(text)),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')),
                   ' ') AS toks
        FROM documents WHERE length(trim(lower(text))) > 0
    ),
    split AS (
        SELECT doc_id,
               array_to_string(toks[1 : len(toks) // 2], ' ') AS prompt,
               array_to_string(toks[len(toks) // 2 + 1 : len(toks)], ' ')
                   AS response,
               CAST(len(toks) // 2 AS BIGINT) AS n_prompt_toks,
               CAST(len(toks) - len(toks) // 2 AS BIGINT) AS n_response_toks
        FROM norm
    )
    SELECT doc_id,
           '{"messages":[{"role":"user","content":"' || prompt
               || '"},{"role":"assistant","content":"' || response
               || '"}]}' AS sft_json,
           CAST(length('{"messages":[{"role":"user","content":"' || prompt
               || '"},{"role":"assistant","content":"' || response
               || '"}]}') AS BIGINT) AS json_len,
           n_prompt_toks, n_response_toks
    FROM split ORDER BY doc_id
    """,
    doc="Training-record EXPORT formatting: each document becomes one "
    "chat-SFT JSON record ({messages:[{role:user,...},{role:assistant,"
    "...}]}) -- the first half of the tokens as the prompt, the rest "
    "as the response -- rendered via Spark's to_json over a nested "
    "struct/array (the JSONL sink step every fine-tuning pipeline "
    "ends with).  Text is normalized to [a-z0-9 ] FIRST, so JSON "
    "string escaping is a no-op by construction and the oracle can "
    "re-derive the exact serialized bytes with plain concatenation "
    "(hash-checks Spark's JSON serializer output byte-for-byte).  "
    "Pure map-side projection: no shuffle except the output sort.",
)
def pipe_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.lower(F.col("text")))) > 0
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"[^a-z0-9 ]", ""),
            r" +",
            " ",
        )
    )
    toks = F.split(norm, " ")
    half = (F.size(toks) / 2).cast("int")
    prompt = F.array_join(F.slice(toks, 1, half), " ")
    response = F.array_join(
        F.slice(toks, half + 1, F.size(toks) - half), " "
    )
    rec = F.struct(
        F.array(
            F.struct(
                F.lit("user").alias("role"), prompt.alias("content")
            ),
            F.struct(
                F.lit("assistant").alias("role"), response.alias("content")
            ),
        ).alias("messages")
    )
    j = F.to_json(rec)
    return d.select(
        "doc_id",
        j.alias("sft_json"),
        F.length(j).cast("bigint").alias("json_len"),
        half.cast("bigint").alias("n_prompt_toks"),
        (F.size(toks) - half).cast("bigint").alias("n_response_toks"),
    ).orderBy("doc_id")


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT event_id, round(ln(1.0 + value), 6) AS logv
    FROM events WHERE event_id < 5000 ORDER BY event_id
    """,
    doc="Arrow-OPTIMIZED scalar Python UDF (useArrow=True) -- the fourth "
    "Python eval mode in the registry next to pandas UDFs "
    "(udf_group_normalize), applyInPandas/mapInPandas (multimodal), "
    "UDTF (udtf_shingles) and grouped-agg UDAF (udaf_median_by_type): "
    "rows cross the JVM/Python boundary as Arrow record batches "
    "instead of pickled rows (~an order of magnitude less serialization "
    "than legacy pickle UDFs; still the slow path vs built-ins -- the "
    "registry uses it only where expressions can't).  The UDF computes "
    "math.log(1.0 + v): CPython libm and DuckDB's ln hit the same "
    "platform libm, so the unrounded doubles agree and round(6) in "
    "both engines hash-checks the whole Arrow round-trip.  "
    "Plan-asserted ArrowEvalPython (not BatchEvalPython).",
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql.functions import udf

    @udf("double", useArrow=True)
    def log1p_py(v: float) -> float:
        return math.log(1.0 + v)

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 5000)
    return ev.select(
        "event_id", F.round(log1p_py("value"), 6).alias("logv")
    ).orderBy("event_id")


@query(
    "pipe_span_corruption",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    words AS (
        SELECT doc_id, u.pos - 1 AS pos0, u.w AS w
        FROM (
            SELECT doc_id,
                   unnest([{'pos': i, 'w': toks[i]}
                           FOR i IN range(1, len(toks) + 1)]) AS u
            FROM toks
        )
    ),
    flagged AS (
        SELECT doc_id, pos0, w,
               CAST(pos0 // 8 AS BIGINT) AS blk,
               CAST(pos0 % 8 AS BIGINT) AS off,
               CASE WHEN CAST(('0x' || substr(md5('sc:' || CAST(doc_id
                             AS VARCHAR) || ':' || CAST(pos0 // 8
                             AS VARCHAR)), 1, 8)) AS BIGINT) % 4 = 0
                    AND pos0 % 8 < 3
                    THEN 1 ELSE 0 END AS masked
        FROM words
    ),
    numbered AS (
        SELECT *,
               SUM(CASE WHEN masked = 1 AND off = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos0) AS k
        FROM flagged
    ),
    agg AS (
        SELECT doc_id,
               string_agg(CASE WHEN masked = 0 THEN w
                               WHEN off = 0 THEN '<extra_id_'
                                   || CAST(k - 1 AS VARCHAR) || '>'
                          END, ' ' ORDER BY pos0) AS input_text,
               string_agg(CASE WHEN masked = 1 THEN
                               (CASE WHEN off = 0 THEN '<extra_id_'
                                    || CAST(k - 1 AS VARCHAR) || '> '
                                ELSE '' END) || w
                          END, ' ' ORDER BY pos0) AS target_text,
               CAST(max(k) AS BIGINT) AS n_spans,
               CAST(sum(masked) AS BIGINT) AS n_masked
        FROM numbered GROUP BY doc_id
    )
    SELECT doc_id,
           md5(coalesce(input_text, '')) AS input_md5,
           md5(coalesce(target_text, '')) AS target_md5,
           n_spans, n_masked
    FROM agg ORDER BY doc_id
    """,
    doc="T5-style span-corruption pretraining objective, fully "
    "deterministic: token blocks of 8; a block is corrupted when "
    "md5('sc:'||doc||':'||block) %% 4 == 0 and its first 3 tokens are "
    "masked (~9%% corruption, mean span 3).  Inputs replace each span "
    "with '<extra_id_k>'; targets emit sentinel+span pairs in order -- "
    "BOTH rendered in ONE grouped aggregation over a single lineage: "
    "the sentinel index k is a prefix-sum window (the cdc_chunks "
    "shape, one doc-partitioned exchange), the sentinel attaches to "
    "the span's first token so input and target share the same pos "
    "ordering, and null-skipping ordered aggregation selects each "
    "side's tokens -- no unions, no joins, no second scan.  Emitted as "
    "md5 digests + exact counts so the gate hash covers the full "
    "rendered strings without shipping them.",
)
def pipe_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "w")
    )
    blk = (F.col("pos0") / 8).cast("bigint")
    off = F.pmod(F.col("pos0"), F.lit(8)).cast("bigint")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("sc:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        blk.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 4
    )
    flagged = words.select(
        "doc_id",
        "pos0",
        "w",
        blk.alias("blk"),
        off.alias("off"),
        ((bucket == 0) & (off < 3)).cast("int").alias("masked"),
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos0")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.withColumn(
        "k",
        F.sum(
            F.when((F.col("masked") == 1) & (F.col("off") == 0), 1).otherwise(0)
        ).over(run),
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("k") - 1).cast("string"), F.lit(">")
    )
    input_tok = F.when(F.col("masked") == 0, F.col("w")).when(
        F.col("off") == 0, sentinel
    )
    target_tok = F.when(
        F.col("masked") == 1,
        F.concat(
            F.when(F.col("off") == 0, F.concat(sentinel, F.lit(" "))).otherwise(
                F.lit("")
            ),
            F.col("w"),
        ),
    )

    def agg_text(tok_col):
        arr = F.array_sort(
            F.collect_list(F.struct(F.col("pos0"), tok_col.alias("t")))
        )
        kept = F.filter(arr, lambda s: s["t"].isNotNull())
        return F.array_join(F.transform(kept, lambda s: s["t"]), " ")

    agg = numbered.groupBy("doc_id").agg(
        F.md5(agg_text(input_tok)).alias("input_md5"),
        F.md5(agg_text(target_tok)).alias("target_md5"),
        F.max("k").cast("bigint").alias("n_spans"),
        F.sum("masked").cast("bigint").alias("n_masked"),
    )
    return agg.orderBy("doc_id")


@query(
    "text_bigram_logprob",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    bi AS (
        -- ftoks mirrors word_shingles' \S+ tokens: the raw split keeps
        -- empty edge tokens for tab/newline residue (trim strips only
        -- spaces), which the Spark shingle regex never emits
        SELECT doc_id,
               unnest([ list_aggregate(ftoks[i:i+1], 'string_agg', ' ')
                        FOR i IN range(1, greatest(len(ftoks) - 1, 0) + 1) ])
                   AS g
        FROM (SELECT doc_id, list_filter(toks, t -> t <> '') AS ftoks
              FROM toks)
    ),
    dg AS (
        SELECT doc_id, g, split_part(g, ' ', 1) AS prev,
               CAST(count(*) AS BIGINT) AS m
        FROM bi GROUP BY doc_id, g
    ),
    c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS n2 FROM bi GROUP BY g),
    uni AS (SELECT doc_id, unnest(toks) AS w FROM toks),
    c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS n1 FROM uni GROUP BY w),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM c1)
    SELECT dg.doc_id,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(-sum(m * ln(CAST(n2 + 1 AS DOUBLE) / (n1 + vsz)))
                 / sum(m), 6) AS nll
    FROM dg JOIN c2 USING (g) JOIN c1 ON c1.w = dg.prev CROSS JOIN v
    GROUP BY dg.doc_id ORDER BY dg.doc_id
    """,
    doc="Conditional (bigram) LM scoring with add-one smoothing: "
    "P(w|prev) = (c2(prev w)+1) / (c1(prev)+V), per-doc mean NLL.  The "
    "structural contrast to text_unigram_logprob: a bigram model table "
    "is CORPUS-sized, so it cannot broadcast -- scoring is "
    "co-partitioned shuffle equi-joins on the model keys (bigram, then "
    "prev-unigram), with the stream pre-reduced to DISTINCT (doc, "
    "bigram, multiplicity) rows so join input is bounded by distinct "
    "grams per doc, not token count.  Model build (count passes) and "
    "scoring are inherently separate passes over the corpus -- the "
    "standard shape for LM-filtering at 100 TB where the model itself "
    "is data-scale.  Docs with < 2 tokens have no bigrams and are "
    "absent (shared shingle contract).  NLL rounds 6 (order-sensitive "
    "float mean); the smoothed probability is a single IEEE division "
    "of exact integers.",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens, word_shingles

    d = load_table(spark, sf_dir, "documents")
    bi = d.select("doc_id", F.explode(word_shingles("text", 2)).alias("g"))
    dg = (
        bi.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("m"))
        .withColumn("prev", F.substring_index(F.col("g"), " ", 1))
    )
    c2 = bi.groupBy("g").agg(F.count(F.lit(1)).alias("n2"))
    uni = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n1"))
    v = c1.agg(F.count(F.lit(1)).alias("vsz"))
    logp = F.log(
        (F.col("n2") + 1).cast("double") / (F.col("n1") + F.col("vsz"))
    )
    return (
        dg.join(c2, "g")
        .join(c1, dg["prev"] == c1["w"])
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("m") * logp) / F.sum("m"), 6
            ).alias("nll"),
        )
        .orderBy("doc_id")
    )


@query(
    "stream_distinct_users",
    oracle="""
    SELECT CAST(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                AS VARCHAR) AS hour_str,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    GROUP BY 1
    """,
    doc="Streaming count(DISTINCT) -- which Structured Streaming cannot "
    "express directly (per-window distinct state would be unbounded) "
    "-- via a MERGEABLE theta sketch: watermarked per-hour "
    "theta_sketch_agg(user_id) with fixed-size state per window, "
    "estimate read at append-mode emission.  Below the sketch's 4096 "
    "nominal entries the estimate is exact, so the real streaming "
    "drain value-hashes against batch count(DISTINCT) restricted to "
    "closed windows; past nominal entries the same plan degrades to "
    "bounded-error estimates with the SAME state size.  The streaming "
    "composition of rel_theta_sketch_sets.",
)
def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import hourly_distinct_users_stream, read_events_stream

    return _drain_stream_to_table(
        spark,
        lambda: hourly_distinct_users_stream(read_events_stream(spark, sf_dir)),
        "_gate_thetausers_",
    )


# --- Preference-pair assembly (DPO/RLHF) ---------------------------------------

@query(
    "pipe_dpo_pairs",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, source, lang,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source, lang,
               CAST(list_sum([
                   {_QC_WEIGHTS}[
                       (CAST(('0x' || substr(md5('qc:' || tok), 1, 8))
                             AS BIGINT) % 16) + 1]
                   FOR tok IN toks
               ]) AS BIGINT) AS m
        FROM t
    ),
    ranked AS (
        SELECT source, lang, doc_id, m,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY m DESC, doc_id ASC) AS rb,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY m ASC, doc_id DESC) AS rw,
               COUNT(*) OVER (PARTITION BY source, lang) AS n
        FROM scored
    )
    SELECT b.source, b.lang,
           CAST(b.n AS BIGINT) AS n_candidates,
           CAST(b.doc_id AS BIGINT) AS chosen_id,
           CAST(b.m AS BIGINT) AS chosen_margin,
           CAST(w.doc_id AS BIGINT) AS rejected_id,
           CAST(w.m AS BIGINT) AS rejected_margin,
           CAST(b.m - w.m AS BIGINT) AS margin_gap
    FROM ranked b
    JOIN ranked w USING (source, lang)
    WHERE b.rb = 1 AND w.rw = 1 AND b.m - w.m > 0
    ORDER BY b.source, b.lang
    """,
    doc="Preference-pair assembly (the DPO/RLHF dataset step): within "
    "each (source, lang) candidate group, pair the strongest document "
    "(chosen) with the weakest (rejected) under the hashed linear "
    "quality scorer, keeping only pairs with a strictly positive "
    "margin gap -- a preference label needs chosen genuinely better.  "
    "Determinism: the margin is an exact bigint fold "
    "(functions/text.py:hashed_linear_margin), ties break to the "
    "lowest doc_id on the chosen side and the highest on the rejected "
    "side, and the gap filter makes chosen != rejected by "
    "construction.  Scale shape: ONE map-side-combined aggregation -- "
    "argmax/argmin as max/min over (m, -doc_id) structs, so no window "
    "sort ever materializes a per-group ordering (the oracle's "
    "row_number formulation is the semantic spec, not the plan); "
    "output is bounded by |sources x languages| regardless of corpus "
    "size.  Composes with pipe_sft_format (which renders records) "
    "the way a real preference-dataset build does.",
)
def pipe_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import hashed_linear_margin

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        hashed_linear_margin("text").alias("m"),
    )
    pick = F.struct(F.col("m"), (-F.col("doc_id")).alias("nid"))
    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(pick).alias("c"),
        F.min(pick).alias("r"),
    )
    return (
        g.select(
            "source",
            "lang",
            "n_candidates",
            (-F.col("c.nid")).cast("bigint").alias("chosen_id"),
            F.col("c.m").cast("bigint").alias("chosen_margin"),
            (-F.col("r.nid")).cast("bigint").alias("rejected_id"),
            F.col("r.m").cast("bigint").alias("rejected_margin"),
            (F.col("c.m") - F.col("r.m")).cast("bigint").alias("margin_gap"),
        )
        .where(F.col("margin_gap") > 0)
        .orderBy("source", "lang")
    )


# --- Two-stage (coarse-to-fine) retrieval --------------------------------------

def _matryoshka_sql(
    q_id: int = 77, coarse_dims: int = 8, dim: int = 64,
    k_coarse: int = 50, k_final: int = 5,
) -> str:
    """DuckDB twin of operators/similarity.py:matryoshka_topk.  Both
    distance trees are generated LEFT-ASSOCIATED in the same dimension
    order; Spark bakes the query vector as double literals (exact
    float->double of the same stored values this CTE casts), so coarse
    AND full distances are bit-identical and the stage-1 candidate cut
    is engine-portable."""

    def dist(n: int) -> str:
        return " + ".join(
            f"(CAST(e.embedding[{i + 1}] AS DOUBLE)"
            f" - CAST(q.qe[{i + 1}] AS DOUBLE))"
            f" * (CAST(e.embedding[{i + 1}] AS DOUBLE)"
            f" - CAST(q.qe[{i + 1}] AS DOUBLE))"
            for i in range(n)
        )

    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {q_id}),
    cand AS (
        SELECT e.vec_id, e.embedding, {dist(coarse_dims)} AS coarse_dist
        FROM embeddings e CROSS JOIN q
        ORDER BY coarse_dist, e.vec_id
        LIMIT {k_coarse}
    )
    SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
           e.coarse_dist,
           {dist(dim)} AS full_dist
    FROM cand e CROSS JOIN q
    ORDER BY full_dist, e.vec_id
    LIMIT {k_final}
    """


@query(
    "sim_matryoshka_topk",
    oracle=_matryoshka_sql(),
    doc="Two-stage coarse-to-fine retrieval (the Matryoshka-embedding "
    "serving pattern): squared distance on the first 8 of 64 "
    "dimensions cuts the corpus to 50 candidates, full 64-dim exact "
    "distance re-ranks only those, top-5 out.  Stage 1 is a "
    "shuffle-free narrow projection into TakeOrderedAndProject "
    "(mergeable per-task heaps, never a global sort); stage 2's "
    "arithmetic is O(k_coarse * dim) independent of corpus size -- an "
    "8x compute cut that needs no index build, complementing IVF "
    "(sim_ann_ivf: cell routing) and PQ (sim_pq_adc: compressed "
    "codes) as the third standard ANN serving shape.  UNROUNDED "
    "value-hash oracle: both distance trees generated left-associated "
    "identically (the _sq_dist_sql contract), so the stage-1 cut and "
    "final ranking agree bit-for-bit -- "
    "operators/similarity.py:matryoshka_topk.",
)
def sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import matryoshka_topk

    e = load_table(spark, sf_dir, "embeddings")
    q_rows = e.where(F.col("vec_id") == 77).select("embedding").collect()
    q_vec = [float(v) for v in q_rows[0][0]]
    return matryoshka_topk(e, q_vec, coarse_dims=8, k_coarse=50, k_final=5)


# --- Pareto frontier over the curation plane ------------------------------------

@query(
    "pipe_pareto_frontier",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    scored AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(list_sum([
                   {_QC_WEIGHTS}[
                       (CAST(('0x' || substr(md5('qc:' || tok), 1, 8))
                             AS BIGINT) % 16) + 1]
                   FOR tok IN toks
               ]) AS BIGINT) AS margin
        FROM t
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, margin
    FROM scored s
    WHERE NOT EXISTS (
        SELECT 1 FROM scored o
        WHERE o.n_tokens >= s.n_tokens AND o.margin >= s.margin
          AND (o.n_tokens > s.n_tokens OR o.margin > s.margin)
    )
    ORDER BY n_tokens, doc_id
    """,
    doc="Pareto frontier on the curation plane (document length vs "
    "quality margin): the docs for which no other doc is at least as "
    "long AND at least as high-quality with one strict -- the "
    "efficient set a data-mixing policy trades along when token "
    "budget and quality compete.  Both axes are exact bigints (token "
    "count + hashed-linear margin), so dominance is exact.  Scale "
    "shape: the skyline is MERGEABLE, so stage 1 computes local "
    "frontiers inside 16 salt buckets (window arithmetic: best-y-over-"
    "strictly-greater-x RANGE frame + per-x max, O(n log n)) and only "
    "the survivors reach the global single-partition pass -- the "
    "salted_topk pattern applied to dominance instead of rank "
    "(operators/skew.py:skyline_2d, equivalence property-tested "
    "against brute force).  The oracle is the textbook NOT EXISTS "
    "quadratic -- an INDEPENDENT formulation, so the hash verifies "
    "the window algebra, not a mirrored plan.",
)
def pipe_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import hashed_linear_margin, tokens
    from ..operators.skew import skyline_2d

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        hashed_linear_margin("text").alias("margin"),
    )
    return (
        skyline_2d(d, x="n_tokens", y="margin", salt_on="doc_id")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "n_tokens",
            F.col("margin").cast("bigint").alias("margin"),
        )
        .orderBy("n_tokens", "doc_id")
    )


# --- Importance resampling (quality-weighted mixture reweighting) -------------

@query(
    "pipe_importance_resample",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source,
               CAST(list_sum([
                   {_QC_WEIGHTS}[
                       (CAST(('0x' || substr(md5('qc:' || tok), 1, 8))
                             AS BIGINT) % 16) + 1]
                   FOR tok IN toks
               ]) AS BIGINT) AS m
        FROM t
    ),
    weighted AS (
        SELECT doc_id, source,
               least(1000, greatest(0, 500 + m // 50)) AS keep_millis,
               CAST(('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)),
                                    1, 8)) AS BIGINT) % 1000 AS coin
        FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(keep_millis) AS BIGINT) AS millis_sum,
           CAST(sum(CASE WHEN coin < keep_millis THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(min(CASE WHEN coin < keep_millis THEN doc_id END)
                AS BIGINT) AS first_kept
    FROM weighted GROUP BY source ORDER BY source
    """,
    doc="Importance resampling (the DoReMi-family mixture-reweighting "
    "primitive): each doc's quality margin maps to an integer "
    "keep-probability in millis (500 + margin/50, clamped to [0, "
    "1000]), and a deterministic md5 coin on doc_id accepts it iff "
    "coin < keep_millis -- so acceptance is exactly Bernoulli(p_doc) "
    "under the hash-uniform coin, reproducible bit-for-bit across "
    "engines AND across reruns (no RNG state to manage on 1000 "
    "executors; the same property the seeding contract gives K-Means). "
    " Emits the per-source acceptance report (totals, expected-mass "
    "sum, kept count, first kept id).  Scale shape: the weight and "
    "coin are shuffle-free per-row integer projections; the report is "
    "one map-side-combined aggregation keyed by source.  Complements "
    "pipe_stratified_sample (fixed per-stratum rate) with per-ROW "
    "rates, which is how quality-weighted token budgets are actually "
    "allocated.",
)
def pipe_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long
    from ..functions.text import hashed_linear_margin

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", hashed_linear_margin("text").alias("m")
    )
    w = d.select(
        "doc_id",
        "source",
        # DuckDB's integer `//` TRUNCATES toward zero exactly like
        # Spark's DIV (verified: -75 // 50 == -1 in both, unlike
        # Python's floor -2), so the bare DIV is the portable form for
        # negative margins too.
        F.least(
            F.lit(1000),
            F.greatest(F.lit(0), F.lit(500) + F.expr("m DIV 50")),
        )
        .cast("bigint")
        .alias("keep_millis"),
        (md5_long("doc_id", salt="rs:") % 1000).alias("coin"),
    )
    kept = F.col("coin") < F.col("keep_millis")
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("keep_millis").alias("millis_sum"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.min(F.when(kept, F.col("doc_id"))).alias("first_kept"),
        )
        .orderBy("source")
    )


# --- Dataset snapshot diff ------------------------------------------------------

@query(
    "pipe_dataset_diff",
    oracle="""
    WITH old AS (
        SELECT doc_id, md5(text) AS old_digest
        FROM documents WHERE doc_id % 7 != 0
    ),
    new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN md5('edited:' || text)
                    ELSE md5(text) END AS new_digest
        FROM documents WHERE doc_id % 5 != 0
    ),
    j AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.old_digest != n.new_digest THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM j GROUP BY status ORDER BY status
    """,
    doc="Dataset snapshot diff (data-versioning audit): two corpus "
    "snapshots -- deterministic slices standing in for release N and "
    "N+1, with a simulated edit class -- reconciled into "
    "added/removed/changed/unchanged with per-status counts and id "
    "ranges.  The diff a curation pipeline publishes between dataset "
    "releases, and the guard against silent upstream mutation.  Scale "
    "shape: each side projects (doc_id, md5 digest) BEFORE the full "
    "outer join, so only 16-byte digests shuffle (never bodies -- the "
    "dedup_exact contract) and the join is co-partitioned on doc_id; "
    "the report is one map-side-combined aggregation on a 4-value "
    "key.  The edit marker uses concat (not case-mapping) so both "
    "engines hash identical bytes.",
)
def pipe_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.where(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("old_digest")
    )
    new = d.where(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.md5(F.concat(F.lit("edited:"), F.col("text"))),
        )
        .otherwise(F.md5("text"))
        .alias("new_digest"),
    )
    j = old.join(new, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "removed")
        .when(F.col("old_digest") != F.col("new_digest"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        j.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
        .orderBy("status")
    )


# --- Grouped-map Arrow UDF (applyInArrow) ---------------------------------------

@query(
    "udf_arrow_grouped",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS vmin,
           max(value) AS vmax,
           max(value) - min(value) AS vrange
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Grouped-map Arrow UDF (DataFrame.groupBy().applyInArrow): the "
    "fifth and last Python eval mode after pandas UDF / applyInPandas "
    "/ mapInPandas-mapInArrow / Arrow-optimized scalar / UDTF -- the "
    "group arrives as a raw pyarrow.Table (zero pandas conversion "
    "cost, the right surface when the group-level logic is columnar "
    "kernels rather than dataframe algebra).  Computes per-type "
    "count/min/max/range via pyarrow.compute; every output is a "
    "pass-through double or ONE IEEE subtraction, so the hash check "
    "is exact with no rounding.  Plans as FlatMapGroupsInArrow over "
    "one hash exchange.  At 100 TB this shape is for genuinely "
    "non-SQL group logic; these particular stats would of course be "
    "a plain JVM aggregate (the oracle states exactly that), which "
    "is what makes the Python path verifiable.",
)
def udf_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(tbl: "pa.Table") -> "pa.Table":
        v = tbl.column("value")
        vmin, vmax = pc.min(v), pc.max(v)
        return pa.table(
            {
                "event_type": pa.array(
                    [tbl.column("event_type")[0].as_py()], pa.string()
                ),
                "n": pa.array([tbl.num_rows], pa.int64()),
                "vmin": pa.array([vmin.as_py()], pa.float64()),
                "vmax": pa.array([vmax.as_py()], pa.float64()),
                "vrange": pa.array(
                    [pc.subtract(vmax, vmin).as_py()], pa.float64()
                ),
            }
        )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return (
        ev.groupBy("event_type")
        .applyInArrow(
            stats,
            schema="event_type string, n long, vmin double, vmax double,"
            " vrange double",
        )
        .orderBy("event_type")
    )


# --- Shard manifest (WebDataset-style packaging) --------------------------------

@query(
    "pipe_shard_manifest",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_bytes, digest,
               sum(n_bytes) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM t
    )
    SELECT source,
           CAST(floor((cum - 1) / 65536) AS BIGINT) AS shard_seq,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
           md5(string_agg(digest, '' ORDER BY doc_id)) AS content_digest
    FROM c GROUP BY source, 2
    ORDER BY source, shard_seq
    """,
    doc="Shard-manifest build (the WebDataset/tar-shard packaging "
    "step): documents are assigned to ~64 KiB shards per source by a "
    "running byte sum (the token_packing cut rule at byte "
    "granularity), and each shard's manifest row carries an "
    "ORDER-SENSITIVE rolling content digest -- md5 over the members' "
    "md5s in shard order (ANSI LISTAGG WITHIN GROUP) -- which is "
    "exactly what a loader validates before trusting a shard, and "
    "what makes two independently-built manifests comparable without "
    "moving bodies.  Scale shape: one window shuffle keyed by source "
    "(shard count scales out with sources; never a global sort), then "
    "one aggregation reusing the same partitioning; only 32-char "
    "digests ever shuffle.  Equal-doc_id ordering is unique by "
    "construction, so the ordered concat is deterministic in both "
    "engines.",
)
def pipe_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.md5("text").alias("digest"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_bytes").over(w))
    c.createOrReplaceTempView("_shard_manifest_rows")
    return spark.sql(
        """
        SELECT source,
               CAST(floor((cum - 1) / 65536) AS BIGINT) AS shard_seq,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
               md5(listagg(digest, '') WITHIN GROUP (ORDER BY doc_id))
                   AS content_digest
        FROM _shard_manifest_rows
        GROUP BY source, 2
        ORDER BY source, shard_seq
        """
    )


# --- Readability scoring (Flesch-Kincaid) ---------------------------------------

@query(
    "text_readability",
    oracle=r"""
    WITH t AS (
        SELECT source,
               CAST(len(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\s+'),
                   s -> s != '')) AS BIGINT) AS words,
               CAST(len(list_filter(
                   regexp_split_to_array(text, '[.!?]+'),
                   s -> len(trim(s)) > 0)) AS BIGINT) AS sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS syllables
        FROM documents
    )
    SELECT source,
           CAST(sum(words) AS BIGINT) AS n_words,
           CAST(sum(sentences) AS BIGINT) AS n_sentences,
           CAST(sum(syllables) AS BIGINT) AS n_syllables,
           0.39 * (CAST(sum(words) AS DOUBLE) / sum(sentences))
               + 11.8 * (CAST(sum(syllables) AS DOUBLE) / sum(words))
               - 15.59 AS fk_grade
    FROM t GROUP BY source ORDER BY source
    """,
    doc="Flesch-Kincaid grade-level readability per source -- the "
    "classic curation signal for audience-level filtering (a corpus "
    "card usually reports it next to the quality score).  Syllables "
    "are approximated as vowel-group runs ([aeiouy]+), sentences as "
    "non-empty [.!?]+ splits -- both verified to count identically in "
    "Java regex and DuckDB's RE2 (the bpe-pretokenizer portability "
    "contract).  All counts are exact bigint sums; the grade formula "
    "is evaluated with ONE fixed association ((0.39*r1 + 11.8*r2) - "
    "15.59) on identical inputs in both engines, so it is emitted "
    "UNROUNDED.  Scale shape: shuffle-free per-row integer counting "
    "(regexp_count compiles once per task) + one map-side-combined "
    "aggregation keyed by source.",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.expr(
            r"CAST(size(filter(split(trim(lower(text)), '\\s+'),"
            r" s -> s != '')) AS BIGINT)"
        ).alias("words"),
        F.expr(
            r"CAST(size(filter(split(text, '[.!?]+'),"
            r" s -> length(trim(s)) > 0)) AS BIGINT)"
        ).alias("sentences"),
        F.expr(
            r"CAST(regexp_count(lower(text), '[aeiouy]+') AS BIGINT)"
        ).alias("syllables"),
    )
    g = t.groupBy("source").agg(
        F.sum("words").alias("n_words"),
        F.sum("sentences").alias("n_sentences"),
        F.sum("syllables").alias("n_syllables"),
    )
    fk = (
        F.lit(0.39)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        + F.lit(11.8)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
        - F.lit(15.59)
    )
    return g.select(
        "source",
        "n_words",
        "n_sentences",
        "n_syllables",
        fk.alias("fk_grade"),
    ).orderBy("source")


# --- Multimodal near-dup: banded Hamming over payload perceptual hashes --------

@query(
    "mm_phash_near_dup",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS phash
        FROM documents WHERE doc_id < 300
    ),
    p AS (
        SELECT doc_id, phash FROM base
        UNION ALL
        SELECT doc_id + 1000000,
               xor(phash, 1 + (doc_id % 2) * 2) AS phash
        FROM base
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    ORDER BY doc_a, doc_b
    """,
    doc="Multimodal near-duplicate detection: a 60-bit perceptual-hash "
    "stand-in per binary payload (md5-derived -- the honest "
    "deterministic stub, same contract as the mm_* codecs; a real "
    "pipeline drops in pHash/aHash bits), banded into 4 x 15-bit "
    "keys, candidates meet in an equi-join per band, survivors "
    "verified by popcount of XOR <= 3.  The pigeonhole guarantee: "
    "Hamming distance <= 3 over 4 bands leaves at least one band "
    "untouched, so banded recall is EXACT -- which the oracle proves "
    "by deriving the pairs with a band-free quadratic join on the "
    "key-bounded slice.  This is simhash_near_pairs' machinery "
    "(text) applied to the multimodal payload column: only 8-byte "
    "hashes shuffle, never blobs; xor/bit_count verified "
    "bit-identical across engines.  Fixture payloads are exact "
    "replicas, so observed pairs sit at hamming 0 -- the banding, "
    "join, and verify plumbing is what the hash checks.",
)
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_binary

    d = documents_as_binary(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    )
    base = d.select(
        "doc_id",
        F.conv(F.substring(F.md5("payload"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("phash"),
    )
    # deterministic corrupted twins at the hash level (1-2 flipped low
    # bits) stand in for the decoded-pixel perturbation a real pHash
    # absorbs -- md5 is avalanche, so near-dup PAYLOADS cannot produce
    # near HASHES; the twins keep the band/verify machinery honestly
    # exercised with nonzero-hamming pairs at every fixture scale.
    p = base.unionAll(
        base.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.col("phash")
            .bitwiseXOR(1 + (F.col("doc_id") % 2) * 2)
            .alias("phash"),
        )
    )
    bands = p.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(f"(phash DIV {1 << (15 * i)}) % 32768").alias(
                            "val"
                        ),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "phash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


# --- Streaming windowed quantiles (mergeable GK summary) ------------------------

@query(
    "stream_approx_percentile",
    oracle="""
    SELECT CAST(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                AS VARCHAR) AS hour_str,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS p50_in_band
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Streaming windowed QUANTILES: per-hour approx_percentile "
    "(Greenwald-Khanna, mergeable, ~accuracy-bounded state) under a "
    "watermark -- the quantile twin of stream_distinct_users' theta "
    "sketch; exact per-window quantiles would keep every value in "
    "state.  A REAL availableNow drain produces (window, count, "
    "approx p50); the gate then re-derives EXACT per-hour band "
    "anchors from the batch table with the spilling rank-anchor "
    "formulation (rel_percentiles shape, window-partitioned) -- the "
    "ACTUAL values at ranks floor(h_0.4) and ceil(h_0.6), since GK "
    "returns an element of the window and an interpolated band can "
    "exclude it on 2-row windows -- and emits the claim boolean "
    "p50_in_band, a rank-error bound far looser than GK's guarantee "
    "at accuracy 10000, so it is TRUE whenever the streaming path "
    "works.  The oracle cross-checks window set + exact counts as "
    "real values and states the claim (the rel_approx_distinct "
    "contract).",
)
def stream_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..streaming import hourly_quantile_stream, read_events_stream

    drained = _drain_stream_to_table(
        spark,
        lambda: hourly_quantile_stream(read_events_stream(spark, sf_dir)),
        "_gate_qtile_",
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("hour_str"),
        F.col("value").alias("v"),
    )
    # band anchors are ACTUAL data values at ranks floor(h_0.4) and
    # ceil(h_0.6) -- GK's estimate is an element of the window, so an
    # interpolated band can exclude it on 2-row windows
    wr = W.partitionBy("hour_str").orderBy("v")
    wn = W.partitionBy("hour_str")
    ranked = ev.select(
        "hour_str",
        "v",
        F.row_number().over(wr).alias("rn"),
        ((F.count(F.lit(1)).over(wn) - 1) * 0.4 + 1).alias("h40"),
        ((F.count(F.lit(1)).over(wn) - 1) * 0.6 + 1).alias("h60"),
    ).where(
        (F.col("rn") == F.floor("h40").cast("bigint"))
        | (F.col("rn") == F.ceil("h60").cast("bigint"))
    )
    exact = ranked.groupBy("hour_str").agg(
        F.min(
            F.when(
                F.col("rn") == F.floor("h40").cast("bigint"), F.col("v")
            )
        ).alias("p40"),
        F.max(
            F.when(F.col("rn") == F.ceil("h60").cast("bigint"), F.col("v"))
        ).alias("p60"),
    )
    return (
        drained.join(exact, "hour_str")
        .select(
            "hour_str",
            F.col("n").cast("bigint").alias("n"),
            (
                (F.col("p50_approx") >= F.col("p40"))
                & (F.col("p50_approx") <= F.col("p60"))
            ).alias("p50_in_band"),
        )
        .orderBy("hour_str")
    )


# --- Semi-supervised label propagation ------------------------------------------

def _label_prop_oracle(rounds: int = 2) -> str:
    """Unrolled majority-vote label propagation (DuckDB twin).  Mode
    per node = most frequent neighbor label, ties to the SMALLEST
    label; seeds are clamped; unlabeled nodes keep NULL until a
    labeled neighbor appears."""
    prev = "l0"
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
    v{i} AS (
        SELECT e.dst AS node, {prev}.lbl, count(*) AS c
        FROM edges e JOIN {prev} ON {prev}.node = e.src
        WHERE {prev}.lbl IS NOT NULL
        GROUP BY e.dst, {prev}.lbl
    ),
    m{i} AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, lbl ASC) AS rn
            FROM v{i}
        ) WHERE rn = 1
    ),
    l{i} AS (
        SELECT n.node,
               COALESCE(n.seed_lbl, m{i}.lbl, {prev}.lbl) AS lbl,
               n.seed_lbl
        FROM l0 n
        LEFT JOIN m{i} ON m{i}.node = n.node
        LEFT JOIN {prev} ON {prev}.node = n.node
    )""")
        prev = f"l{i}"
    return f"""
    WITH p AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y,
               label
        FROM embeddings WHERE vec_id < 2000
    ),
    pr AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM p a JOIN p b ON a.vec_id < b.vec_id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= 0.0025
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pr
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pr
    ),
    l0 AS (
        SELECT vec_id AS node,
               CASE WHEN vec_id % 10 = 0 THEN label END AS lbl,
               CASE WHEN vec_id % 10 = 0 THEN label END AS seed_lbl
        FROM p
    ),{",".join(steps)}
    SELECT CAST(node AS BIGINT) AS vec_id,
           CAST(lbl AS INTEGER) AS final_label,
           seed_lbl IS NOT NULL AS is_seed
    FROM {prev}
    ORDER BY vec_id
    """


@query(
    "pipe_label_propagation",
    oracle=_label_prop_oracle(),
    doc="Semi-supervised label spreading (weak supervision): 10% of "
    "points keep their true label as SEEDS, everything else starts "
    "unlabeled, and 2 rounds of majority vote over the exact spatial "
    "neighborhood graph (grid_radius_pairs at r = 0.05 on the first "
    "two embedding dims) spread labels outward -- mode per node with "
    "ties to the smallest label, seeds clamped, no-labeled-neighbor "
    "nodes stay NULL.  The standard bootstrap for labeling a corpus "
    "from a small gold set.  Fully deterministic (integer votes, "
    "total tie order), so the oracle -- the same rounds unrolled over "
    "a band-free quadratic pair join -- hash-checks labels exactly.  "
    "Scale shape: the graph build is the exact grid join (recall "
    "proven, no LSH risk); each round is one edges-x-labels shuffle "
    "join + a two-level argmax (count by (node, lbl), then max-by "
    "struct), the Pregel cost envelope of rel_pagerank with votes "
    "instead of rank mass.  The third propagation pattern after "
    "min-label CC and rank mass.",
)
def pipe_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import grid_radius_pairs

    p = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 2000
    ).select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
        "label",
    )
    pairs = grid_radius_pairs(p, r=0.05, r_sq=0.0025)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    nodes = p.select(
        F.col("vec_id").alias("node"),
        F.when(F.col("vec_id") % 10 == 0, F.col("label")).alias("seed_lbl"),
    )
    labels = nodes.select(
        "node", F.col("seed_lbl").alias("lbl"), "seed_lbl"
    )
    for _ in range(2):
        votes = (
            edges.join(
                labels.where(F.col("lbl").isNotNull()).select(
                    F.col("node").alias("src_node"), "lbl"
                ),
                edges.src == F.col("src_node"),
            )
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        mode = (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))
                ).alias("m")
            )
            .select("node", (-F.col("m.neg")).cast("int").alias("voted"))
        )
        labels = (
            nodes.join(mode, "node", "left")
            .join(
                labels.select("node", F.col("lbl").alias("prev_lbl")),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce("seed_lbl", "voted", "prev_lbl").alias("lbl"),
                "seed_lbl",
            )
        )
    return labels.select(
        F.col("node").cast("bigint").alias("vec_id"),
        F.col("lbl").cast("int").alias("final_label"),
        F.col("seed_lbl").isNotNull().alias("is_seed"),
    ).orderBy("vec_id")


# --- Synthetic data: cloze QA-pair generation -----------------------------------

@query(
    "pipe_synthetic_qa",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lower(trim(text)) AS norm,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, norm, unnest(toks) AS tok FROM t),
    f AS (
        SELECT doc_id, norm, tok, count(*) AS c
        FROM tok WHERE len(tok) >= 4 GROUP BY doc_id, norm, tok
    ),
    pick AS (
        SELECT doc_id, norm, tok AS answer, c FROM (
            SELECT doc_id, norm, tok, c,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, tok ASC) AS rn
            FROM f
        ) WHERE rn = 1
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           answer,
           CAST(c AS BIGINT) AS n_occurrences,
           md5(replace(norm, answer, '____')) AS question_md5
    FROM pick ORDER BY doc_id
    """,
    doc="Synthetic training-data generation, cloze style: per document "
    "pick the most frequent >= 4-char token (ties to the "
    "alphabetically first -- a total order, so the pick is "
    "deterministic), blank every occurrence to '____', and emit the "
    "(question, answer) pair -- the template trick behind cloze-task "
    "pretraining sets and recall probes, expressed relationally.  "
    "The question text is hash-checked via md5 of the fully blanked "
    "normalized doc, so replace() semantics (all occurrences, "
    "substring-level) are verified identical cross-engine, and "
    "n_occurrences cross-checks the frequency count.  Scale shape: "
    "token explode with map-side combine into the per-doc frequency "
    "table, one doc-partitioned window for the argmax, blanking is a "
    "map-only projection.  Docs with no qualifying token drop out in "
    "both engines.",
)
def pipe_synthetic_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.trim("text")).alias("norm"),
        tokens("text").alias("toks"),
    )
    tok = d.select(
        "doc_id", "norm", F.explode("toks").alias("tok")
    ).where(F.length("tok") >= 4)
    freq = tok.groupBy("doc_id", "norm", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("c").desc(), F.col("tok").asc()
    )
    pick = freq.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return pick.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("tok").alias("answer"),
        F.col("c").cast("bigint").alias("n_occurrences"),
        F.md5(
            F.replace(F.col("norm"), F.col("tok"), F.lit("____"))
        ).alias("question_md5"),
    ).orderBy("doc_id")


# --- Dedup-pipeline evaluation (precision/recall vs exact truth) ---------------

def _dedup_eval_sql(threshold: float = 0.5) -> str:
    """Confusion counts of the sliced LSH candidate set against exact
    shingle-Jaccard >= threshold ground truth (both derivable in SQL;
    the slice bound makes the quadratic truth side affordable)."""
    mh = _minhash_sql()
    assert mh.count("FROM documents") == 1
    mh_sliced = mh.replace(
        "FROM documents", "FROM documents WHERE doc_id < 300"
    )
    return f"""
    WITH lsh AS (SELECT doc_a, doc_b FROM ({mh_sliced})),
    shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    pair_overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
        SELECT doc_a, doc_b FROM pair_overlap
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)
              >= {threshold}
    ),
    j AS (
        SELECT COALESCE(l.doc_a, t.doc_a) AS doc_a,
               l.doc_a IS NOT NULL AS predicted,
               t.doc_a IS NOT NULL AS actual
        FROM lsh l
        FULL OUTER JOIN truth t
          ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
    )
    SELECT CAST(sum(CASE WHEN predicted AND actual THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN predicted AND NOT actual THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN actual AND NOT predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CASE WHEN sum(CASE WHEN predicted THEN 1 ELSE 0 END) > 0
                THEN CAST(sum(CASE WHEN predicted AND actual
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / sum(CASE WHEN predicted THEN 1 ELSE 0 END)
           END AS precision,
           CASE WHEN sum(CASE WHEN actual THEN 1 ELSE 0 END) > 0
                THEN CAST(sum(CASE WHEN predicted AND actual
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / sum(CASE WHEN actual THEN 1 ELSE 0 END)
           END AS recall
    FROM j
    """


@query(
    "pipe_dedup_eval",
    oracle=_dedup_eval_sql(),
    doc="Dedup-pipeline EVALUATION: confusion counts of the LSH "
    "candidate set against exact shingle-Jaccard >= 0.5 ground truth "
    "on the key-bounded slice -- tp/fp/fn plus precision and recall "
    "as single exact-integer divisions (unrounded).  This is the "
    "quality-measurement harness a production dedup pipeline ships "
    "with: banding parameters (16 hashes x 8 bands here) trade "
    "recall against candidate volume, and this query makes that "
    "trade a measured, hash-checked number instead of folklore.  "
    "Both arms reuse the registry's canonical derivations (the "
    "operator for LSH, the shared shingle SQL for truth), so the "
    "eval can never drift from what the pipeline actually runs.  "
    "The slice bound makes the quadratic truth side affordable; at "
    "100 TB you evaluate on a sampled slice exactly like this while "
    "the LSH side runs corpus-wide.",
)
def pipe_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles
    from ..operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    res = minhash_lsh_pairs(d, max_bucket=1000)
    lsh = _eager(
        spark, res.pairs.select("doc_a", "doc_b"), deps=res.deps
    )

    sh = F.array_distinct(word_shingles("text", 3))
    # persist + eager count: cold-cache race across the consumer job's
    # branches (dedup_ngram_jaccard comment; r10)
    arrs = d.select("doc_id", sh.alias("_sh")).persist()
    arrs.count()
    shingles = arrs.select("doc_id", F.explode("_sh").alias("shingle"))
    sizes = arrs.select("doc_id", F.size("_sh").alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("inter").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("inter")
    )
    truth = _eager(
        spark,
        overlap.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= 0.5)
        .select("doc_a", "doc_b"),
        deps=[arrs],
    )

    j = lsh.withColumn("predicted", F.lit(True)).join(
        truth.withColumn("actual", F.lit(True)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    tp = F.sum(
        F.when(F.col("predicted") & F.col("actual"), 1).otherwise(0)
    )
    npred = F.sum(F.when(F.col("predicted"), 1).otherwise(0))
    nact = F.sum(F.when(F.col("actual"), 1).otherwise(0))
    return j.agg(
        tp.cast("bigint").alias("tp"),
        F.sum(
            F.when(F.col("predicted") & F.col("actual").isNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("fp"),
        F.sum(
            F.when(F.col("actual") & F.col("predicted").isNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("fn"),
        F.when(npred > 0, tp.cast("double") / npred).alias("precision"),
        F.when(nact > 0, tp.cast("double") / nact).alias("recall"),
    )


# --- URL / domain analysis (curation blocklist pass) -------------------------

#: engine-portable URL pattern (Java regex AND RE2 common subset; no
#: backrefs / lookaround).  Scheme + host, optional path/query.
URL_RE = r"https?://[a-z0-9.-]+(/[a-z0-9/._?=-]*)?"
#: capture group 1 = the host part.
URL_HOST_RE = r"https?://([a-z0-9.-]+)"


@query(
    "text_url_domains",
    oracle=rf"""
    WITH injected AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 4 = 0
                       THEN ' see https://www.site' || (doc_id % 20)
                            || '.example.org/p/' || doc_id || ' there'
                       ELSE '' END
               || CASE WHEN doc_id % 10 = 0
                       THEN ' ref http://ads' || (doc_id % 5)
                            || '.tracker.net/x?q=1 now'
                       ELSE '' END AS t
        FROM documents
    ),
    urls AS (
        SELECT doc_id, unnest(regexp_extract_all(t, '{URL_RE}')) AS url
        FROM injected
    )
    SELECT regexp_extract(url, '{URL_HOST_RE}', 1) AS domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           regexp_extract(url, '{URL_HOST_RE}', 1) LIKE '%.tracker.net'
               AS blocked
    FROM urls
    GROUP BY 1
    ORDER BY n_docs DESC, domain
    """,
    doc="Common-Crawl-style URL/domain accounting: extract every URL from "
    "the text with an engine-portable regex, reduce to the host, and "
    "aggregate per-domain url + document frequencies with a "
    "blocklist-suffix flag -- the pass that feeds domain blocklists and "
    "per-domain sampling caps in web-corpus curation.  The synthetic "
    "corpus has no URLs, so both engines inject deterministic "
    "doc_id-derived URLs first (the text_pii_scrub recipe), making the "
    "extraction + host-capture semantics genuinely verified.  Scale "
    "shape: regex projection + explode, then one shuffle keyed on "
    "domain strings whose cardinality is domains (millions), not "
    "documents (billions); count(DISTINCT doc_id) is a two-phase "
    "partial aggregate.  A real blocklist joins here as a broadcast "
    "dim against the domain column -- never the URL stream.",
)
def text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" see https://www.site"),
                (did % 20).cast("string"),
                F.lit(".example.org/p/"),
                did.cast("string"),
                F.lit(" there"),
            ),
        ).otherwise(""),
        F.when(
            did % 10 == 0,
            F.concat(
                F.lit(" ref http://ads"),
                (did % 5).cast("string"),
                F.lit(".tracker.net/x?q=1 now"),
            ),
        ).otherwise(""),
    )
    urls = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(t, F.lit(URL_RE), 0)).alias("url"),
    )
    dom = F.regexp_extract("url", URL_HOST_RE, 1)
    return (
        urls.select("doc_id", dom.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .select(
            "domain",
            "n_urls",
            "n_docs",
            F.col("domain").like("%.tracker.net").alias("blocked"),
        )
        .orderBy(F.desc("n_docs"), "domain")
    )


# --- Sequence-length bucketing (training batch assembly) ---------------------

@query(
    "pipe_length_buckets",
    oracle=r"""
    WITH lens AS (
        SELECT CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS n
        FROM documents
    ),
    b AS (
        SELECT n,
               CASE WHEN n <= 16 THEN 16
                    WHEN n <= 32 THEN 32
                    WHEN n <= 64 THEN 64
                    WHEN n <= 128 THEN 128
                    ELSE 256 END AS bucket
        FROM lens
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(greatest(bucket - n, 0)) AS BIGINT) AS pad_tokens,
           CAST(sum(greatest(bucket - n, 0)) AS DOUBLE)
               / CAST(sum(bucket) AS DOUBLE) AS pad_frac,
           CAST(sum(CASE WHEN n > bucket THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overflow,
           CAST((count(*) + 31) // 32 AS BIGINT) AS n_batches
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="Sequence-length bucketing: assign each document to a power-of-two "
    "length bucket and account, per bucket, for document count, token "
    "volume, padding waste if every member is padded to the bucket "
    "ceiling, the padding fraction, and the number of 32-doc batches; "
    "docs LONGER than the top bucket are truncation candidates -- their "
    "pad clamps at 0 (never negative) and they are counted in "
    "n_overflow.  "
    "This is the batch-assembly complement of pipe_token_packing: "
    "packing concatenates documents into fixed-size packs, bucketing "
    "groups similar lengths so per-batch padding stays bounded -- the "
    "two standard answers to ragged-sequence training.  All quantities "
    "are exact integers; pad_frac is ONE IEEE division of exact bigints "
    "(emitted unrounded per the float policy); n_batches uses integer "
    "division, portable because DuckDB's // truncates exactly like "
    "Spark's DIV on non-negatives.  Scale shape: a projection plus one "
    "5-group hash aggregate -- map-side partials reduce each partition "
    "to <= 5 rows, so the shuffle is O(partitions), not O(rows).",
)
def pipe_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    n = token_count("text").cast("bigint")
    bucket = (
        F.when(n <= 16, 16)
        .when(n <= 32, 32)
        .when(n <= 64, 64)
        .when(n <= 128, 128)
        .otherwise(256)
        .cast("bigint")
    )
    return (
        d.select(n.alias("n"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum(F.greatest(F.col("bucket") - F.col("n"), F.lit(0)))
            .cast("bigint")
            .alias("pad_tokens"),
            (
                F.sum(F.greatest(F.col("bucket") - F.col("n"), F.lit(0))).cast(
                    "double"
                )
                / F.sum("bucket").cast("double")
            ).alias("pad_frac"),
            F.sum(F.when(F.col("n") > F.col("bucket"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_overflow"),
            F.expr("CAST((count(*) + 31) DIV 32 AS BIGINT)").alias("n_batches"),
        )
        .orderBy("bucket")
    )


# --- Minority-class oversampling (class rebalancing) -------------------------

@query(
    "pipe_oversample_minority",
    oracle=f"""
    WITH c AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_s
        FROM documents GROUP BY lang
    ),
    t AS (SELECT max(n_s) AS target FROM c),
    j AS (
        SELECT d.doc_id, d.lang, c.n_s, t.target
        FROM documents d JOIN c USING (lang), t
    ),
    cp AS (
        SELECT lang, n_s,
               (target // n_s)
               + CASE WHEN ({md5_long_sql('doc_id', 'ovs:')} % 1000)
                           < ((target % n_s) * 1000) // n_s
                      THEN 1 ELSE 0 END AS copies
        FROM j
    ),
    ex AS (
        SELECT lang, n_s, unnest(generate_series(1, copies)) AS k FROM cp
    )
    SELECT lang,
           CAST(min(n_s) AS BIGINT) AS orig_n,
           CAST(count(*) AS BIGINT) AS n_out,
           CAST(sum(k) AS BIGINT) AS k_sum,
           CAST(count(*) AS DOUBLE) / CAST(min(n_s) AS DOUBLE) AS ratio
    FROM ex
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Minority-class oversampling to the majority count: every doc of "
    "language s is replicated floor(target/n_s) times plus one more "
    "with exact probability frac = (target mod n_s)/n_s, decided by an "
    "md5 coin against the integer millis threshold -- deterministic "
    "Bernoulli with zero RNG state (the pipe_importance_resample coin, "
    "pointed the other way: that query DOWN-samples to reweight, this "
    "one UP-samples to rebalance).  The explode is "
    "sequence(1, copies), so each copy carries its replica index k; "
    "k_sum hash-checks the exploded STRUCTURE (sum of 1..copies per "
    "doc), not just row counts, and ratio is one exact-int IEEE "
    "division (unrounded).  Scale shape: the per-class count table is "
    "|langs| rows, broadcast back to the corpus; the explode is "
    "map-side (no shuffle adds rows); one final aggregate.  At 100 TB "
    "the same plan oversamples rare languages/domains during dataset "
    "assembly without materializing an intermediate shuffle of "
    "replicated bodies -- replication happens in the scan projection.",
)
def pipe_oversample_minority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_s"))
    t = c.agg(F.max("n_s").alias("target"))
    j = d.select("doc_id", "lang").join(F.broadcast(c), "lang").crossJoin(
        F.broadcast(t)
    )
    copies = F.expr("target DIV n_s") + F.when(
        md5_long("doc_id", "ovs:") % 1000
        < F.expr("((target % n_s) * 1000) DIV n_s"),
        1,
    ).otherwise(0)
    ex = j.select(
        "lang",
        "n_s",
        F.explode(F.sequence(F.lit(1), copies.cast("int"))).alias("k"),
    )
    return (
        ex.groupBy("lang")
        .agg(
            F.min("n_s").cast("bigint").alias("orig_n"),
            F.count("*").cast("bigint").alias("n_out"),
            F.sum("k").cast("bigint").alias("k_sum"),
            (
                F.count("*").cast("double") / F.min("n_s").cast("double")
            ).alias("ratio"),
        )
        .orderBy("lang")
    )


# --- Pandas UDF, iterator form (model-per-worker inference) ------------------

@query(
    "udf_pandas_iter",
    oracle="""
    SELECT event_id,
           round(3.0 * (value - 200.0) / 150.0, 6) AS score
    FROM events
    WHERE event_id < 5000
    ORDER BY event_id
    """,
    doc="Iterator-form pandas UDF (Iterator[pd.Series] -> "
    "Iterator[pd.Series]): the 'model' (a linear scorer with weight/"
    "mean/scale constants) is constructed ONCE per Python worker, "
    "before the batch loop, then applied to every Arrow batch -- THE "
    "pattern for ML inference over 100 TB, where loading the model "
    "per-row (scalar UDF) or per-batch would dominate the job: with "
    "1000 executors the load cost is paid 1000 times, not trillions.  "
    "Completes the Python eval-mode surface (pandas scalar / "
    "grouped-agg / applyInPandas / mapInPandas / UDTF / arrow scalar / "
    "applyInArrow / pandas ITERATOR).  The oracle re-derives the same "
    "affine score in SQL; round(6) because the Python float path and "
    "the SQL path associate identically here but the contract keeps "
    "computed floats rounded unless integer-exact.  Plan: "
    "ArrowEvalPython over a pruned 2-column scan; no shuffle.",
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterator/pd are module-level imports: PEP 563 stringifies the
    # type hints and pandas_udf resolves them in MODULE globals
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # expensive one-time init happens HERE, once per worker process
        weight, mean, scale = 3.0, 200.0, 150.0
        for v in batches:
            yield weight * (v - mean) / scale

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 5000)
    return ev.select(
        "event_id", F.round(score_iter("value"), 6).alias("score")
    ).orderBy("event_id")


# --- Parameterized SQL -------------------------------------------------------

@query(
    "rel_parameterized_sql",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE n_chars >= 400 AND lang <> 'en'
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Named-parameter SQL (spark.sql(query, args={...})): the "
    "injection-safe API surface for templated analytics -- parameter "
    "markers (:min_chars, :skip_lang) are bound as typed literals at "
    "analysis time, so constant folding and parquet pushdown see the "
    "values exactly as if they were inlined (same contract "
    "rel_session_vars asserts for SQL variables).  The oracle inlines "
    "the same values; the hash proves binding semantics.  All "
    "measures exact integers.",
)
def rel_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents
        WHERE n_chars >= :min_chars AND lang <> :skip_lang
        GROUP BY lang
        ORDER BY lang
        """,
        args={"min_chars": 400, "skip_lang": "en"},
    )


# --- Sparse cosine similarity via inverted-index join -----------------------

_SPARSE_DF_CAP = 50   # drop terms in > cap docs (stopword-class pruning)
_SPARSE_MIN_COS = 0.5


@query(
    "sim_sparse_cosine",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS term
        FROM documents WHERE doc_id < 300
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    keep AS (
        SELECT term FROM tf GROUP BY term
        HAVING count(*) <= {_SPARSE_DF_CAP}
    ),
    p AS (SELECT tf.* FROM tf JOIN keep USING (term)),
    norms AS (
        SELECT doc_id, sqrt(CAST(sum(tf * tf) AS DOUBLE)) AS nrm
        FROM p GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, dot, dot / (na.nrm * nb.nrm) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE dot / (na.nrm * nb.nrm) >= {_SPARSE_MIN_COS}
    """,
    doc="Sparse-vector cosine similarity via the inverted-index join -- "
    "the classic IR shape the embedding paths (sim_topk / LSH / IVF) "
    "deliberately avoid: docs as term-frequency vectors, pairwise dot "
    "products computed by self-joining the POSTINGS list on term and "
    "summing tf_a*tf_b, never materializing a dense vector.  The "
    "posting self-join's cost is sum of df^2 over terms, so the "
    "high-df cap (terms in > 50 docs dropped -- stopword-class "
    "pruning) is the boundedness lever, exactly the band-bucket cap "
    "argument from dedup_minhash_lsh: organic common terms, like hot "
    "LSH bands, would otherwise go quadratic.  Cosine is defined over "
    "the PRUNED term space in both engines (norms computed after the "
    "cap, so the metric is internally consistent).  Float discipline: "
    "dot and tf are exact bigints; each norm is ONE correctly-rounded "
    "sqrt of an exact integer; cosine = dot / (nrm_a * nrm_b) is two "
    "further IEEE ops in a fixed tree -- bit-identical across engines, "
    "emitted UNROUNDED.  doc_id < 300 slice keeps the quadratic exact "
    "oracle tractable (the dedup_ngram_jaccard framing); at corpus "
    "scale the same plan runs uncapped on the doc side because the "
    "df cap bounds every posting list.",
)
def sim_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    # word_shingles(n=1) == \S+ tokens, never empty strings (the
    # text_bigram_logprob tokenization contract)
    toks = d.select("doc_id", F.explode(word_shingles("text", 1)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    keep = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _SPARSE_DF_CAP)
        .select("term")
    )
    # pruned postings feed three consumers (both join sides + norms):
    # persist once, release via _eager (the dedup_ngram_jaccard pattern);
    # eager count = cold-cache-race guard (r10)
    p = tf.join(keep, "term").persist()
    p.count()
    norms = p.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm")
    )
    a, b = p.alias("a"), p.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).cast("bigint").alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cosine = F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm"))
    out = (
        dots.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .where(cosine >= _SPARSE_MIN_COS)
        .select("doc_a", "doc_b", "dot", cosine.alias("cosine"))
    )
    return _eager(spark, out, deps=[p])


# --- PCA whitening (closed-form 2-D): feature prep for clustering ----------

def _pca_whiten_sql() -> str:
    """ONE ANSI string both engines run verbatim (the
    rel_ansi_sql_verbatim contract): exact integer moments -> population
    covariance -> closed-form 2x2 eigen -> whitened projection.  Shared
    text guarantees identical expression TREES, which is what makes the
    unrounded doubles hash-equal."""
    from .registry import POINTS_SQL

    return f"""
    WITH points AS ({POINTS_SQL}),
    pts AS (
        SELECT id, CAST(round(x, 0) AS BIGINT) AS xi,
               CAST(round(y * 100, 0) AS BIGINT) AS yi
        FROM points
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(xi) AS sx, sum(yi) AS sy,
               sum(CAST(xi * xi AS DECIMAL(38, 0))) AS sxx,
               sum(CAST(yi * yi AS DECIMAL(38, 0))) AS syy,
               sum(CAST(xi * yi AS DECIMAL(38, 0))) AS sxy
        FROM pts
    ),
    -- Exact-moment -> double discipline: the squared moments exceed
    -- 2^53 from sf0.1 up, and Spark's BigDecimal->double vs DuckDB's
    -- hugeint->double round DIFFERENTLY for non-representable values
    -- (observed: last-bit cyy/l1 divergence at sf0.1).  So never cast
    -- a >2^53 moment directly: split s = hi + lo with lo = s % 2^52
    -- (< 2^52, exact in double) and hi a multiple of 2^52 (<= 53
    -- significant bits while s < 2^105 -- exact in double).  Each part
    -- casts exactly, each /n is ONE correctly-rounded IEEE division,
    -- and the sum is one IEEE add, so the tree stays bit-identical
    -- across engines (verified hex-equal on the sf0.1 failing value).
    md AS (
        SELECT n,
               CAST(sx - (sx % 4503599627370496) AS DOUBLE) / n
                   + CAST(sx % 4503599627370496 AS DOUBLE) / n AS mx,
               CAST(sy - (sy % 4503599627370496) AS DOUBLE) / n
                   + CAST(sy % 4503599627370496 AS DOUBLE) / n AS my,
               CAST(sxx - (sxx % 4503599627370496) AS DOUBLE) / n
                   + CAST(sxx % 4503599627370496 AS DOUBLE) / n AS exx,
               CAST(syy - (syy % 4503599627370496) AS DOUBLE) / n
                   + CAST(syy % 4503599627370496 AS DOUBLE) / n AS eyy,
               CAST(sxy - (sxy % 4503599627370496) AS DOUBLE) / n
                   + CAST(sxy % 4503599627370496 AS DOUBLE) / n AS exy
        FROM m
    ),
    cov AS (
        SELECT n, mx, my,
               exx - mx * mx AS cxx,
               eyy - my * my AS cyy,
               exy - mx * my AS cxy
        FROM md
    ),
    eig AS (
        SELECT n, mx, my, cxx, cyy, cxy,
               (cxx + cyy) / 2
                   + sqrt(((cxx - cyy) / 2) * ((cxx - cyy) / 2) + cxy * cxy)
                   AS l1,
               (cxx + cyy) / 2
                   - sqrt(((cxx - cyy) / 2) * ((cxx - cyy) / 2) + cxy * cxy)
                   AS l2
        FROM cov
    ),
    basis AS (
        SELECT n, mx, my, cxx, cyy, cxy, l1, l2,
               cxy / sqrt(cxy * cxy + (l1 - cxx) * (l1 - cxx)) AS u1x,
               (l1 - cxx) / sqrt(cxy * cxy + (l1 - cxx) * (l1 - cxx)) AS u1y,
               cxy / sqrt(cxy * cxy + (l2 - cxx) * (l2 - cxx)) AS u2x,
               (l2 - cxx) / sqrt(cxy * cxy + (l2 - cxx) * (l2 - cxx)) AS u2y
        FROM eig
    )
    SELECT p.id,
           ((CAST(p.xi AS DOUBLE) - mx) * u1x
               + (CAST(p.yi AS DOUBLE) - my) * u1y) / sqrt(l1) AS w1,
           ((CAST(p.xi AS DOUBLE) - mx) * u2x
               + (CAST(p.yi AS DOUBLE) - my) * u2y) / sqrt(l2) AS w2,
           cxx, cyy, cxy, l1, l2
    FROM pts p CROSS JOIN basis
    WHERE p.id <= 5
    ORDER BY p.id
    """


@query(
    "pipe_pca_whiten",
    oracle=_pca_whiten_sql(),
    doc="PCA whitening of the 2-D points plane -- the feature-prep step "
    "that makes squared-Euclidean k-means scale-invariant (whitened "
    "features have identity covariance, so no axis dominates the "
    "distance the way raw extendedprice dwarfs raw quantity by 1000x).  "
    "Shape: ONE full-corpus aggregation computes five EXACT integer "
    "moments (coords lifted to quantity-units and cents; the squared "
    "sums accumulate in DECIMAL(38,0) because sum(cents^2) passes "
    "2^63 around sf0.1-x10 -- the rel_decimal_money regime), then the "
    "2x2 population covariance, closed-form eigenpair (l = h +/- "
    "sqrt(((cxx-cyy)/2)^2 + cxy^2)), and the whitened projection "
    "x -> U^T (x - mean) / sqrt(l) are all scalar arithmetic on ONE "
    "row.  Float discipline: every double derives from exact integers "
    "through a FIXED expression tree; moments that can exceed 2^53 "
    "never cast to double directly (engine cast-rounding differs "
    "there) -- each is split s = hi + lo at 2^52 via %, both parts "
    "exactly representable, then divided and summed as IEEE ops.  "
    "BOTH engines execute the IDENTICAL verbatim SQL text, so "
    "w/lambda values are bit-identical and emitted UNROUNDED.  "
    "Scale: the "
    "moment pass is one map-side-combinable aggregation (the O9 tree-"
    "reduction shape) -- at 100 TB this is a single scan + k=1 reduce; "
    "the projection is shuffle-free.  Output: 5 whitened sample rows "
    "carrying the model (cov entries + eigenvalues) as columns.",
)
def pipe_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_pca_whiten_sql())


# --- Cosine range search (radius query) ---------------------------------------

@query(
    "sim_range_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
               FROM embeddings WHERE vec_id IN {_QUERY_IDS}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT q.q_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.q_emb, c.emb)
                 / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                    * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos_sim
    FROM q CROSS JOIN c
    WHERE q.q_id <> c.vec_id
      AND list_dot_product(q.q_emb, c.emb)
          / (sqrt(list_dot_product(q.q_emb, q.q_emb))
             * sqrt(list_dot_product(c.emb, c.emb))) >= 0.25
    """,
    doc="Exact cosine RANGE search (radius query, the FAISS range_search "
    "surface): every corpus vector with cos >= 0.25 of each pinned "
    "query vector, unranked -- the retrieval mode dedup and "
    "contamination checks actually want ('everything closer than t', "
    "not 'the 10 closest').  Deliberately WINDOW-FREE, unlike "
    "sim_topk_bruteforce: a radius predicate needs no per-query "
    "ordering, so the plan is one narrow broadcast-join + filter pass "
    "-- zero shuffles, zero per-partition heaps, embarrassingly "
    "parallel at 100 TB (plan-asserted no-Window/no-Exchange in "
    "tests/test_plans.py).  Threshold 0.25 keeps all three gate "
    "scales populated (35/40/124 rows) without drowning the result; "
    "cos_sim rounds to 6 (multi-term float sum), and the threshold "
    "compare runs on the UNROUNDED value in both engines so no "
    "boundary row can flip membership.",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_range

    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    cand = e.select("vec_id", emb.alias("emb"))
    q = cand.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    return brute_force_range(cand, q, threshold=0.25).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round("_sim", 6).alias("cos_sim"),
    )


# --- ANN recall evaluation: IVF vs exact, fully value-checked ------------------

@query(
    "sim_ivf_recall_eval",
    oracle=f"""
    WITH {_IVF_FIXED_TOP5_CTES},
    exact_top5 AS (
        SELECT q_id, vec_id FROM (
            SELECT q.q_id, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY list_dot_product(q.q_emb, c.emb)
                           / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                              * sqrt(list_dot_product(c.emb, c.emb))) DESC,
                           c.vec_id
                   ) AS rank
            FROM q CROSS JOIN e c
            WHERE q.q_id <> c.vec_id
        ) WHERE rank <= 5
    )
    SELECT i.q_id,
           CAST(count(x.vec_id) AS BIGINT) AS n_hits,
           CAST(count(x.vec_id) AS DOUBLE) / 5 AS recall
    FROM ivf_top5 i
    LEFT JOIN exact_top5 x
      ON x.q_id = i.q_id AND x.vec_id = i.vec_id
    GROUP BY i.q_id
    """,
    doc="ANN quality evaluation as a first-class query -- 'measure, "
    "don't guess' applied to the serving path: exact recall@5 of the "
    "fixed-cell IVF route (sim_ann_ivf_fixed's chain, shared via ONE "
    "CTE constant so the two queries cannot drift) against the "
    "brute-force top-5, per query vector.  Unlike sim_ann_ivf's "
    "claim-check (its learned quantizer is non-SQL-expressible), "
    "every stage here is deterministic relational algebra, so the "
    "recall FRACTION itself is hash-checked -- the gate fails if "
    "pruning quality moves at all.  recall = n_hits/5 is one exact "
    "small-int division (IEEE-exact, emitted unrounded per the "
    "registry float discipline).  The eval pattern is what a 100 TB "
    "deployment runs nightly on a sampled slice to catch index drift "
    "before users do.",
)
def sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import assign_nd
    from ..operators.similarity import brute_force_topk, ivf_topk
    from ..plans.kmeans_queries import _cents_nd

    e = load_table(spark, sf_dir, "embeddings")
    cents = _cents_nd(spark, sf_dir, k=4)
    if not cents:
        # empty corpus: no cells, no queries, nothing to evaluate --
        # typed empty short-circuit (the SemDeDup-builder precedent:
        # assign_nd cannot take a zero-centroid literal list)
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("q_id", LongType(), True),
                    StructField("n_hits", LongType(), False),
                    StructField("recall", DoubleType(), True),
                ]
            ),
        )
    indexed = assign_nd(e, cents, out="cell_id")
    emb = F.col("embedding").cast("array<double>")
    q = e.where(F.col("vec_id").isin(0, 7, 42)).select(
        F.col("vec_id").alias("q_id"), emb.alias("q_emb")
    )
    ann = ivf_topk(indexed, cents, q, k=5, nprobe=2).select("q_id", "vec_id")
    exact = brute_force_topk(
        e.select("vec_id", emb.alias("emb")), q, k=5
    ).select("q_id", "vec_id", F.lit(1).alias("_hit"))
    return (
        ann.join(exact, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            (F.count("_hit").cast("double") / 5).alias("recall"),
        )
    )


# --- Streaming ingest + small-file compaction maintenance ---------------------

@query(
    "stream_compaction_ingest",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
               AS sum_mills,
           TRUE AS compaction_reduced_files
    FROM events GROUP BY event_type
    """,
    doc="The small-file maintenance loop under STREAMING ingest (r8 "
    "verdict optional item): a foreachBatch sink appends each "
    "micro-batch as many deliberately small parquet files (the "
    "classic incremental-ingest failure mode -- at 100 TB, thousands "
    "of KB-files make every later scan pay per-file open + footer + "
    "task-schedule overhead), then sources.writers.compact_small_files "
    "rewrites the directory into ~target-sized files via the "
    "crash-safe two-rename swap that tests/test_maintenance.py "
    "exercises.  The gate checks BOTH halves: the claim column pins "
    "that compaction strictly reduced the file count to the computed "
    "target, and the per-type counts + value mills of the COMPACTED "
    "table must hash-equal the batch oracle over events -- i.e. "
    "maintenance lost and duplicated nothing.  Money-adjacent values "
    "aggregate as exact integer mills; NULL values are skipped by "
    "sum in both engines.",
)
def stream_compaction_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile

    from ..sources.writers import compact_small_files
    from ..streaming.streams import read_events_stream

    root = tempfile.mkdtemp(prefix="_gate_compact_")
    out = f"{root}/ingested"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        ev = read_events_stream(spark, sf_dir).select(
            "event_id", "event_type", "value"
        )

        def write_small(batch_df: DataFrame, batch_id: int) -> None:
            # 16-way round-robin per batch: the small-file smell,
            # manufactured deterministically
            batch_df.repartition(16).write.mode("append").parquet(out)

        q = (
            ev.writeStream.foreachBatch(write_small)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, "compaction ingest stream")
        n_before = len(glob.glob(f"{out}/*.parquet"))
        if n_before == 0:
            # empty stream: foreachBatch never wrote -- nothing to
            # compact, typed empty result (empty-partition robustness)
            from pyspark.sql.types import (
                BooleanType,
                LongType,
                StringType,
                StructField,
                StructType,
            )

            return spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField("event_type", StringType(), True),
                        StructField("n", LongType(), False),
                        StructField("sum_mills", LongType(), True),
                        StructField(
                            "compaction_reduced_files", BooleanType(), False
                        ),
                    ]
                ),
            )
        n_target = compact_small_files(
            spark, out, target_file_bytes=128 * 1024 * 1024
        )
        n_after = len(glob.glob(f"{out}/*.parquet"))
        agg = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("value") * 1000).cast("bigint")
                ).alias("sum_mills"),
            )
            .withColumn(
                "compaction_reduced_files",
                F.lit(bool(n_after == n_target and n_after < n_before)),
            )
        )
        # materialize BEFORE the finally removes the compacted table
        return _eager(spark, agg)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(root, ignore_errors=True)


# --- Targeted user erasure via dynamic partition overwrite ---------------------

# One-entry memo for the erasure query's PRISTINE partitioned events
# table (VERDICT r9 item 5): the query must mutate a hive layout, and
# rebuilding it was a full-table Spark write per invocation.  The
# pristine write now happens once per (session, fixture) -- keyed on
# the shared fixture_cache_key recipe, the mandated single
# invalidation definition -- and each invocation works on a HARDLINK
# clone (metadata-only, no data rewrite; the dynamic overwrite writes
# new files and unlinks old ones, never modifies bytes in place, so
# the pristine inodes are never touched).  A None fixture key (un-
# stat-able dir) is uncacheable: write fresh, don't memoize.
_ERASURE_FIXTURE_MEMO: dict = {}


def _erasure_pristine_table(spark: SparkSession, sf_dir: str) -> str:
    import os
    import shutil
    import tempfile

    from ..sources.readers import fixture_cache_key

    def write_pristine(dest_root: str) -> str:
        tbl = f"{dest_root}/events_by_day"
        load_table(spark, sf_dir, "events").select(
            "user_id",
            "ts",
            "event_id",
            # FLOOR division, mirrored VERBATIM in the oracle (r10
            # advice + review): Spark `div` and DuckDB integer `//`
            # BOTH truncate toward zero (verified on duckdb 1.0), so
            # neither spelling gives the correct previous-day bucket
            # for a pre-1970 timestamp -- both sides now compute the
            # identical floor-of-double-ratio, exact for any
            # |micros| < 2^53 (~285 years of epoch).
            F.expr(
                "CAST(floor(unix_micros(ts) / 86400000000.0) AS BIGINT)"
            ).alias("epoch_day"),
        ).write.partitionBy("epoch_day").parquet(tbl)
        return tbl

    key = fixture_cache_key(spark, sf_dir, "events")
    if key is None:
        root = tempfile.mkdtemp(prefix="_gate_erasure_src_")
        return write_pristine(root), False
    hit = _ERASURE_FIXTURE_MEMO.get(key)
    if hit is None:
        for old in _ERASURE_FIXTURE_MEMO.values():
            shutil.rmtree(os.path.dirname(old), ignore_errors=True)
        _ERASURE_FIXTURE_MEMO.clear()
        root = tempfile.mkdtemp(prefix="_gate_erasure_src_")
        hit = write_pristine(root)
        _ERASURE_FIXTURE_MEMO[key] = hit
    return hit, True


def _hardlink_clone(src: str, dst: str) -> None:
    """Clone a directory tree with hardlinks (falling back to copy
    across filesystems) -- O(files) metadata ops, zero data copied."""
    import os
    import shutil

    def link_or_copy(s: str, t: str) -> None:
        try:
            os.link(s, t)
        except OSError:
            shutil.copy2(s, t)

    shutil.copytree(src, dst, copy_function=link_or_copy, dirs_exist_ok=True)


@query(
    "pipe_user_erasure",
    oracle="""
    SELECT CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS epoch_day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS untouched_partitions_intact
    FROM events WHERE user_id <> 7
    GROUP BY 1
    """,
    doc="Targeted deletion (GDPR user erasure) as a PARTITION-PRUNED "
    "rewrite: events land in a hive table partitioned by tz-free "
    "epoch_day (floor(unix_micros / 86400e6) -- no session-timezone "
    "dependence, unlike to_date(ts); FLOOR in BOTH engines, r10 "
    "review: DuckDB's integer `//` TRUNCATES toward zero like "
    "Spark's `div`, so the pre-1970 day-boundary semantics are "
    "pinned by spelling the identical floor-of-double-ratio "
    "expression on both sides -- floor is the correct day bucketing "
    "for negative epochs, and the double ratio is exact for "
    "|micros| < 2^53), then user 7's rows are erased "
    "by dynamically overwriting ONLY the partitions that user "
    "appears in (sources.writers.overwrite_partitions_dynamic; the "
    "affected-day list is a <=30-row collect).  At 100 TB this is "
    "the difference between rewriting ~27 day-directories and "
    "rewriting the corpus -- the default STATIC overwrite mode would "
    "drop the whole table.  The gate checks both halves: the "
    "post-erasure per-day counts must hash-equal the batch oracle "
    "(nothing else was lost or duplicated), and the claim column "
    "pins that every UNTOUCHED partition's files are byte-identical "
    "(name+size+mtime_ns signature taken before and after) -- i.e. "
    "the rewrite really was pruned, not a full-table pass.  The "
    "replacement rows derive from the SOURCE, not from the table "
    "being overwritten (Spark forbids overwriting a path being read).",
)
def pipe_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    from ..sources.writers import overwrite_partitions_dynamic

    root = tempfile.mkdtemp(prefix="_gate_erasure_")
    tbl = f"{root}/events_by_day"
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id",
            "ts",
            "event_id",
            # same floor-division day as the pristine write above
            F.expr(
                "CAST(floor(unix_micros(ts) / 86400000000.0) AS BIGINT)"
            ).alias("epoch_day"),
        )
        # Pristine table written once per (session, fixture); each
        # invocation mutates a hardlink CLONE (VERDICT r9 item 5 --
        # no full-table rewrite per gate run).
        pristine, cached = _erasure_pristine_table(spark, sf_dir)
        _hardlink_clone(pristine, tbl)
        if not cached:
            shutil.rmtree(os.path.dirname(pristine), ignore_errors=True)

        def partition_sigs() -> dict[str, tuple]:
            def sig(d: str, f: str) -> tuple:
                st = os.stat(os.path.join(d, f))  # one stat per file
                return (f, st.st_size, st.st_mtime_ns)

            return {
                d: tuple(
                    sorted(
                        sig(d, f)
                        for f in os.listdir(d)
                        if f.endswith(".parquet")
                    )
                )
                for d in glob.glob(f"{tbl}/epoch_day=*")
            }

        before = partition_sigs()
        if not before:
            # empty events: the partitioned write produced no
            # partitions and Spark cannot infer a schema from an
            # empty hive table -- typed empty short-circuit
            from pyspark.sql.types import (
                BooleanType,
                LongType,
                StructField,
                StructType,
            )

            return spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField("epoch_day", LongType(), True),
                        StructField("n", LongType(), False),
                        StructField("n_users", LongType(), False),
                        StructField(
                            "untouched_partitions_intact",
                            BooleanType(),
                            False,
                        ),
                    ]
                ),
            )
        # ONE <=30-row collect yields both per-day facts (review
        # finding: separate affected/surviving collects re-scanned
        # the source twice)
        day_facts = {
            r["epoch_day"]: (bool(r["has_erased"]), bool(r["has_other"]))
            for r in ev.groupBy("epoch_day")
            .agg(
                F.max((F.col("user_id") == 7).cast("int"))
                .cast("boolean")
                .alias("has_erased"),
                F.max((F.col("user_id") != 7).cast("int"))
                .cast("boolean")
                .alias("has_other"),
            )
            .collect()
        }
        affected = [d for d, (e, _o) in day_facts.items() if e]
        if affected:
            replacement = ev.where(
                F.col("epoch_day").isin(affected)
                & (F.col("user_id") != 7)
            )
            overwrite_partitions_dynamic(replacement, tbl, ["epoch_day"])
            # Dynamic overwrite only rewrites partitions PRESENT in
            # the written data: a day whose rows ALL belonged to the
            # erased user produces an empty replacement and its old
            # files would survive the "erasure" (review finding).
            # Those fully-erased days are deleted explicitly.
            for d in (d for d in affected if not day_facts[d][1]):
                shutil.rmtree(
                    f"{tbl}/epoch_day={d}", ignore_errors=True
                )
        after = partition_sigs()
        touched = {f"{tbl}/epoch_day={d}" for d in affected}
        intact = all(
            after.get(d) == sig
            for d, sig in before.items()
            if d not in touched
        )
        if not any(has_other for _e, has_other in day_facts.values()):
            # EVERY row belonged to the erased user: all partitions
            # were deleted and a parquet read of the file-less table
            # root would raise UNABLE_TO_INFER_SCHEMA where the
            # oracle returns zero rows (review finding) -- typed
            # empty, same schema as the aggregate below
            from pyspark.sql.types import (
                BooleanType,
                LongType,
                StructField,
                StructType,
            )

            return spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField("epoch_day", LongType(), True),
                        StructField("n", LongType(), False),
                        StructField("n_users", LongType(), False),
                        StructField(
                            "untouched_partitions_intact",
                            BooleanType(),
                            False,
                        ),
                    ]
                ),
            )
        out = (
            spark.read.parquet(tbl)
            .groupBy(F.col("epoch_day").cast("bigint").alias("epoch_day"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .withColumn(
                "untouched_partitions_intact", F.lit(bool(intact))
            )
        )
        # materialize BEFORE the finally removes the table
        return _eager(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- BM25 ranked retrieval ------------------------------------------------------

#: pinned query terms (present across the synthetic vocabulary at every
#: scale) and the standard Robertson/Sparck-Jones parameters
_BM25_TERMS = ("spark", "window", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75

# The per-doc BM25 score relation as ONE oracle CTE constant, consumed
# by BOTH text_bm25_topk and sim_hybrid_rrf (the _SEMANTIC_SUB_CTES /
# _IVF_FIXED_TOP5_CTES zero-drift discipline).  tf per term is an
# in-row list_filter count (no unnest/explode -- the corpus never
# shuffles); idf is the +1-smoothed positive form ln(1+(N-df+.5)/
# (df+.5)); the 3 term contributions add in FIXED left-to-right order
# so the float sum is association-identical in both engines.
_BM25_SCORE_CTES = f"""toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM documents
    ),
    tf AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
               CAST(len(list_filter(tk, x -> x = '{_BM25_TERMS[0]}')) AS BIGINT) AS tf1,
               CAST(len(list_filter(tk, x -> x = '{_BM25_TERMS[1]}')) AS BIGINT) AS tf2,
               CAST(len(list_filter(tk, x -> x = '{_BM25_TERMS[2]}')) AS BIGINT) AS tf3
        FROM toks
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
               CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
               CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
               CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
        FROM tf
    ),
    bm25 AS (
        SELECT doc_id,
               ln(1 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                 * (tf1 * ({_BM25_K1} + 1))
                 / (tf1 + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
             + ln(1 + (n_docs - df2 + 0.5) / (df2 + 0.5))
                 * (tf2 * ({_BM25_K1} + 1))
                 / (tf2 + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
             + ln(1 + (n_docs - df3 + 0.5) / (df3 + 0.5))
                 * (tf3 * ({_BM25_K1} + 1))
                 / (tf3 + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
               AS score
        FROM tf, stats
    )"""


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 score relation, the Spark twin of _BM25_SCORE_CTES:
    tf per pinned term via size(filter(tokens)) -- an in-row projection,
    NO explode and NO data-scale shuffle; corpus stats (N, avgdl, df per
    term) are ONE map-side-combined aggregate broadcast back as a 1-row
    cross join, so the whole scorer is two scans and zero wide
    exchanges at any corpus size.  Every float expression is written in
    the same association as the oracle (ln agrees bitwise -- the
    udf_arrow_scalar libm-parity check), so scores are bit-identical
    and ranking on the UNROUNDED score is engine-portable."""
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    tf = d.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("dl"),
        *[
            F.size(F.expr(f"filter(tk, x -> x = '{t}')"))
            .cast("bigint")
            .alias(f"tf{i + 1}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = tf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i + 1}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df{i + 1}")
            for i in range(3)
        ],
    )
    scored = tf.crossJoin(F.broadcast(stats))
    k1, b = _BM25_K1, _BM25_B
    contrib = [
        F.log(
            1
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
        )
        * (F.col(f"tf{i}") * (k1 + 1))
        / (
            F.col(f"tf{i}")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        for i in (1, 2, 3)
    ]
    return scored.select(
        "doc_id", (contrib[0] + contrib[1] + contrib[2]).alias("score")
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORE_CTES}
    SELECT CAST(rank AS BIGINT) AS rank, doc_id,
           round(score, 6) AS bm25
    FROM (
        SELECT doc_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM bm25
    ) WHERE rank <= 10
    """,
    doc="BM25 ranked retrieval -- the lexical-relevance workhorse of "
    "every corpus-quality / retrieval pipeline, for the pinned "
    "3-term query: tf saturation (k1=1.2), length normalization "
    "(b=0.75), +1-smoothed positive idf.  Scale shape: tf per term "
    "is size(filter(tokens)) -- an IN-ROW projection, no explode, so "
    "the corpus never shuffles; corpus stats are one "
    "map-side-combined aggregate broadcast back; the top-10 is a "
    "TakeOrderedAndProject merge heap.  Two scans + a 1-row "
    "broadcast at ANY corpus size.  Ranking runs on the UNROUNDED "
    "score (both engines build the identical float tree, fixed "
    "3-term association, libm-parity ln); the emitted score rounds "
    "to 6.  The oracle shares the score relation with sim_hybrid_rrf "
    "via _BM25_SCORE_CTES (zero drift).",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ranked_topk(_bm25_scores(spark, sf_dir), k=10).select(
        "rank", "doc_id", F.round("score", 6).alias("bm25")
    )


def _ranked_topk(scores: DataFrame, k: int) -> DataFrame:
    """(doc_id, score) -> top-k with a rank column, the scale-correct
    way: the cut is orderBy+limit (TakeOrderedAndProject -- mergeable
    per-partition heaps, never a global sort or an unpartitioned
    corpus-scale window), and row_number attaches ranks only to the
    ALREADY-BOUNDED k rows (the <=256-rows-post-limit window
    discipline)."""
    top = scores.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )


# --- Hybrid retrieval: BM25 + vector fusion (RRF) --------------------------------

@query(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_SCORE_CTES},
    bm_top AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        FROM bm25 QUALIFY r <= 20
    ),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
          FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    vec_top AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY list_dot_product(q.q_emb, c.emb)
                       / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                          * sqrt(list_dot_product(c.emb, c.emb))) DESC,
                       c.vec_id
               ) AS r
        FROM q CROSS JOIN c
        WHERE q.q_id <> c.vec_id
        QUALIFY r <= 20
    ),
    fused AS (
        SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
               COALESCE(1.0 / (60 + b.r), 0)
                 + COALESCE(1.0 / (60 + v.r), 0) AS rrf
        FROM bm_top b FULL OUTER JOIN vec_top v ON v.doc_id = b.doc_id
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, round(rrf, 6) AS rrf
    FROM (
        SELECT doc_id, rrf,
               ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
        FROM fused
    ) WHERE rank <= 10
    """,
    doc="HYBRID retrieval -- reciprocal-rank fusion of a lexical arm "
    "(BM25 top-20 for the pinned terms, sharing _BM25_SCORE_CTES with "
    "text_bm25_topk) and a dense arm (exact cosine top-20 for query "
    "vector 0): rrf(d) = sum over arms containing d of 1/(60+rank), "
    "the standard k=60 fusion every modern search stack (lexical + "
    "embedding) ships, robust to the two arms' incomparable score "
    "scales because only RANKS enter.  doc_id and vec_id share an id "
    "space in the fixtures, so the join is meaningful.  Scale shape: "
    "each arm is its own TakeOrderedAndProject heap cut; fusion "
    "touches only 2k=40 rows (a driver-trivial full outer join), so "
    "the fused ranking costs O(k) regardless of corpus size.  "
    "1/(60+r) is one exact-operand division -- bit-identical both "
    "engines -- and the two-arm sum has fixed association; the "
    "emitted rrf rounds to 6.",
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk

    bm = _ranked_topk(_bm25_scores(spark, sf_dir), k=20).select(
        "doc_id", F.col("rank").alias("rb")
    )
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), emb.alias("q_emb")
    )
    vec = brute_force_topk(
        e.select("vec_id", emb.alias("emb")), q, k=20
    ).select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("rv"))
    fused = bm.join(vec, "doc_id", "outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (60 + F.col("rb")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("rv")), F.lit(0.0))
        ).alias("score"),
    )
    return _ranked_topk(fused, k=10).select(
        "rank", "doc_id", F.round("score", 6).alias("rrf")
    )


# --- Quality-aware dedup keeper selection -----------------------------------------

@query(
    "dedup_exact_keep_best",
    oracle="""
    SELECT content_hash, n_copies, keeper_id, keeper_quality FROM (
        SELECT md5(text) AS content_hash,
               CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                   AS n_copies,
               doc_id AS keeper_id,
               CAST(n_chars * 1000 - length(text)
                    + len(list_filter(
                          regexp_split_to_array(trim(lower(text)), '\\s+'),
                          x -> length(x) >= 4)) AS BIGINT)
                   AS keeper_quality,
               ROW_NUMBER() OVER (
                   PARTITION BY md5(text)
                   ORDER BY n_chars * 1000 - length(text)
                            + len(list_filter(
                                  regexp_split_to_array(
                                      trim(lower(text)), '\\s+'),
                                  x -> length(x) >= 4)) DESC,
                            doc_id
               ) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
    doc="Exact dedup with QUALITY-AWARE keeper selection -- what "
    "production corpora actually do: among byte-identical copies, "
    "keep the row whose (deterministic, exact-integer) quality "
    "margin is highest, ties to the lowest doc_id -- NOT the lowest "
    "id regardless of metadata (dedup_exact_keep) and not "
    "dropDuplicates()'s arbitrary row.  Copies of identical text "
    "can differ in metadata quality (here the margin mixes n_chars "
    "metadata with text-derived counts, all bigint arithmetic -- no "
    "float enters the ORDER BY), and keeping the best-provenance "
    "copy is the difference between preserving and discarding "
    "curation signal at 100 TB.  One digest-keyed window shuffle "
    "(only the hash, ids and the integer margin move -- the "
    "dedup_exact digest-only discipline); argmax as row_number over "
    "(margin DESC, doc_id) so selection is total-ordered in both "
    "engines.",
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    # token recipe via the shared tokens() helper (review finding: a
    # restated raw-SQL split would silently drift if tokens() changed)
    quality = (
        F.col("n_chars").cast("bigint") * 1000
        - F.length("text").cast("bigint")
        + F.size(
            F.filter(tokens("text"), lambda x: F.length(x) >= 4)
        ).cast("bigint")
    )
    scored = d.select(
        F.md5("text").alias("content_hash"),
        F.col("doc_id").alias("keeper_id"),
        quality.alias("keeper_quality"),
    )
    w = Window.partitionBy("content_hash")
    wo = w.orderBy(F.col("keeper_quality").desc(), F.col("keeper_id"))
    return (
        scored.withColumn(
            "n_copies", F.count(F.lit(1)).over(w).cast("bigint")
        )
        .withColumn("rn", F.row_number().over(wo))
        .where(F.col("rn") == 1)
        .select("content_hash", "n_copies", "keeper_id", "keeper_quality")
    )


# --- Intra-document repeated-span removal ------------------------------------------

@query(
    "text_intradoc_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM documents
    ),
    t AS (
        SELECT doc_id, u.pos, u.tok FROM (
            SELECT doc_id,
                   [struct_pack(pos := i, tok := tk[i])
                    FOR i IN range(1, len(tk) + 1)] AS ps
            FROM toks
        ), unnest(ps) AS s(u)
    ),
    g AS (
        SELECT doc_id, pos, tok,
               tok || ' ' || lead(tok) OVER w AS gram
        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    r AS (
        SELECT doc_id, pos, tok,
               CASE WHEN gram IS NOT NULL AND ROW_NUMBER() OVER (
                        PARTITION BY doc_id, gram ORDER BY pos) > 1
                    THEN pos + 1 END AS span_end
        FROM g
    ),
    cov AS (
        SELECT doc_id, pos, tok,
               max(span_end) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cover_end
        FROM r
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE cover_end >= pos) AS BIGINT)
               AS n_removed,
           md5(string_agg(tok, ' ' ORDER BY pos)
               FILTER (WHERE cover_end IS NULL OR cover_end < pos))
               AS cleaned_md5
    FROM cov GROUP BY doc_id
    """,
    doc="Intra-document repeated-span removal (the Gopher/RETRO 'dedup "
    "within document' rule text_repetition_ratio only MEASURES): "
    "every non-first occurrence of a repeated bigram marks its "
    "2-token span, covered tokens are dropped, and the cleaned text "
    "is verified by md5 over the kept tokens in order -- so the "
    "check pins the exact removal semantics, not just counts.  "
    "Span coverage without a range join: a repeated start at q "
    "covers positions q..q+1, so token p is covered iff the RUNNING "
    "MAX of (q+1) over starts <= p reaches p -- one O(n) window "
    "pass; the first occurrence of every gram survives by "
    "construction, so position 1 is always kept and the cleaned "
    "string is never empty.  Scale shape: one doc-keyed exchange "
    "(posexplode + three frames over the same partitioning, the "
    "sessionize/cdc-chunks cost envelope); the fixture populates the "
    "rule at every scale (~3.5% of bigram starts repeat).",
)
def text_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    )
    t = d.select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    # F.concat is NULL-propagating (unlike concat_ws), exactly
    # mirroring the oracle's tok || ' ' || lead(tok): the doc-final
    # position has no lead and therefore no gram
    g = t.withColumn(
        "gram",
        F.concat(F.col("tok"), F.lit(" "), F.lead("tok", 1).over(wd)),
    )
    wg = Window.partitionBy("doc_id", "gram").orderBy("pos")
    r = g.withColumn(
        "span_end",
        F.when(
            F.col("gram").isNotNull() & (F.row_number().over(wg) > 1),
            F.col("pos") + 1,
        ),
    )
    cov = r.withColumn(
        "cover_end",
        F.max("span_end").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cov = cov.withColumn(
        "_kept",
        F.when(
            F.col("cover_end").isNull()
            | (F.col("cover_end") < F.col("pos")),
            F.struct("pos", "tok"),
        ),
    )
    return cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        # when/otherwise, not a bare boolean cast: a doc with NO
        # removals has all-NULL cover_end and sum(NULL) would be NULL
        # where the oracle's count FILTER is 0
        F.sum(
            F.when(F.col("cover_end") >= F.col("pos"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort("
                    "collect_list(_kept)), s -> s.tok)"
                ),
            )
        ).alias("cleaned_md5"),
    )

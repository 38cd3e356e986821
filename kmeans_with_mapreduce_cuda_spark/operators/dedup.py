"""Deduplication operators for the documents table: exact (content-hash),
MinHash+LSH banding, SimHash, n-gram Jaccard.  North-star extensions --
the reference has no dedup surface; these are the operators a 100 TB
training-data pipeline runs before anything else.

Scale design:
- Exact dedup shuffles 16-byte digests, never bodies.
- MinHash/LSH: per-doc signature is a narrow projection (md5 + ARRAY_MIN
  higher-order exprs, fully codegen'd); the only shuffle is the band-key
  self-join, whose fan-out is bounded by band collisions -- the standard
  LSH trade: recall vs candidate count via the hash and band counts
  (``functions.hashing.MINHASH_NUM_HASHES`` / ``MINHASH_BANDS``).
- All hashes are md5-derived so results are engine-portable and
  oracle-checkable (functions/hashing.py).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import hashing
from ..functions.text import tokens, word_shingles
from .skew import cap_hot_keys

#: default per-band bucket cap: a band key shared by more than this many
#: docs is treated as degenerate (boilerplate collision) and excluded
#: from pair generation -- within-bucket output grows as n^2, so one hot
#: key on a 100 TB corpus would otherwise pin the whole job on one task.
MAX_BAND_BUCKET = 1000


class LshPairs(NamedTuple):
    """Result of LSH pair generation.

    pairs           candidate pairs (lazy DataFrame)
    deps            persisted intermediates the caller must unpersist
                    after materializing ``pairs`` (explicit contract --
                    an attribute on the DataFrame would silently vanish
                    on any downstream transformation)
    capped_buckets  (bk, n_docs) rows for band keys excluded by
                    ``max_bucket`` -- empty when nothing was capped;
                    surface this to the operator's caller/logs so capped
                    corpora are visible, never silent
    """

    pairs: DataFrame
    deps: list[DataFrame]
    capped_buckets: DataFrame


def exact_dedup_keep_first(df: DataFrame) -> DataFrame:
    """Keep the lowest-``doc_id`` row per exact ``text`` hash (deterministic
    canonical selection; dropDuplicates keeps an arbitrary row)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return df.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    ).drop("_rn")


def minhash_signatures(
    df: DataFrame, num_hashes: int = hashing.MINHASH_NUM_HASHES
) -> DataFrame:
    """Per-doc MinHash signature -> (doc_id, sig: array<bigint>[num_hashes])
    over word ``MINHASH_SHINGLE_N``-gram shingles of ``text``, md5 salted
    with ``MINHASH_SEED`` (``functions/hashing.py``).

    Explode -> scalar md5 -> groupBy(min x num_hashes): every expression
    is a plain codegen'd scalar (no higher-order lambdas, which evaluate
    interpreted per element), the min aggregates combine map-side, and
    no per-doc array materializes -- at 100 TB the shuffle carries one
    16-long partial row per (doc, partition).  Shingle dedup is skipped
    on purpose: duplicates cannot change a min.

    Short-doc contract: a document with fewer than ``MINHASH_SHINGLE_N``
    tokens has no shingles, so explode emits no rows and the doc is
    ABSENT from the output -- it has no signature and is never an LSH
    dedup candidate.  Callers that need every doc represented should
    left-join doc ids back onto this output and treat missing as "no
    candidate".
    """
    from ..sources.readers import spread_scan

    # Shingle explode + per-shingle md5 is the expensive narrow stage of
    # the whole MinHash family, and the single-row-group fixture scan
    # feeds it as ONE task (r11; guide §2.5) -- spread the input across
    # the session's cores first.  No-op whenever the source already
    # offers >= defaultParallelism splits (any real corpus).
    ex = spread_scan(df).select(
        "doc_id",
        F.explode(word_shingles("text", hashing.MINHASH_SHINGLE_N)).alias("_s"),
    )
    salt = f"mh{hashing.MINHASH_SEED}:"
    x = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col("_s"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    aggs = [
        F.min(
            (F.lit(a) * F.col("_x") + F.lit(b)) % F.lit(hashing.MINHASH_P)
        ).alias(f"_h{j}")
        for j, (a, b) in enumerate(hashing.minhash_params(num_hashes))
    ]
    return (
        ex.select("doc_id", x.alias("_x"))
        .groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id", F.array(*[f"_h{j}" for j in range(num_hashes)]).alias("sig")
        )
    )


def _minhash_banded(df: DataFrame) -> DataFrame:
    """(id, sig, bk) per (doc, band): each doc's MinHash signature
    exploded into ``MINHASH_BANDS`` band keys bk = (band, h0..h{r-1}),
    r = MINHASH_NUM_HASHES / MINHASH_BANDS -- the one shuffle key of
    both LSH joins."""
    num_hashes, bands = hashing.MINHASH_NUM_HASHES, hashing.MINHASH_BANDS
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(df, num_hashes)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col("sig")[b * r + j].alias(f"h{j}") for j in range(r)],
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col("doc_id").alias("id"), F.col("sig"), F.explode(band_structs).alias("bk")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> LshPairs:
    """LSH candidate pairs + signature-estimated Jaccard.

    Banding: signature split into ``MINHASH_BANDS`` bands of
    r = MINHASH_NUM_HASHES / MINHASH_BANDS rows (``functions/hashing.py``,
    shared with the DuckDB oracles); docs colliding on any full band
    become a candidate pair.  The self-join key is (band_idx, band
    values) so each band is one shuffle key -- no all-pairs comparison
    anywhere.

    Skew guard: within-bucket pair output is quadratic in bucket size,
    so a single boilerplate-heavy band key (every page sharing a footer)
    would at corpus scale put millions of docs on one key and pin the
    join on one task -- AQE can split an oversized input partition but
    not an oversized join OUTPUT.  Band keys held by more than
    ``max_bucket`` docs are pre-counted and excluded (broadcast
    anti-join; the hot-key list is tiny by construction), and reported
    in ``capped_buckets`` so the cap is visible.  Docs in a capped
    bucket can still pair through their other bands.  ``None`` disables.

    Returns :class:`LshPairs`; ``pairs`` is (doc_a, doc_b, est_jaccard)
    with doc_a < doc_b, est_jaccard = fraction of agreeing signature
    positions (rounded to 6).  Caller must unpersist ``deps`` after
    materializing (the banded signatures are persisted because both
    self-join sides consume them).
    """
    # materialize signatures ONCE: the sizes aggregate and the pair
    # expansion would otherwise re-run the full shingle+hash pipeline
    # (the expensive part).  r10 additionally needed an eager count()
    # here: the then SELF-JOIN's one consuming job read the cold cache
    # from three concurrent branches (sizes + both join sides) that
    # each recomputed the pipeline.  The r11 bucket-aggregate rewrite
    # leaves a single gated chain -- the broadcast(capped) build runs
    # sizes over the cold cache FIRST (one pass, fills it), and the
    # grouped pair expansion cannot start before that broadcast -- so
    # the dedicated fill job is a pure extra pass now and is removed
    # (measured r11: ~0.2-0.4 s off every minhash-family key).
    banded = _minhash_banded(df).persist()
    joinable, capped = cap_hot_keys(banded, "bk", max_bucket, "n_docs")

    # Per-bucket pair expansion instead of the banded SELF-JOIN (r11):
    # one groupBy exchange replaces the join's two cache reads + two
    # hash exchanges -- each band key's members are collected into ONE
    # row (bounded: the max_bucket cap already excluded degenerate
    # buckets BEFORE this aggregate, so a member list is <= max_bucket
    # structs by construction), sorted by id so the strict upper
    # triangle IS doc_a < doc_b, and pairs are emitted by a codegen'd
    # posexplode x slice-tail explode.  Result set identical to the
    # join (same pairs, same sigs); dropDuplicates still canonicalizes
    # across bands.
    grouped = joinable.groupBy("bk").agg(
        F.sort_array(F.collect_list(F.struct("id", "sig"))).alias("_ms")
    )
    pairs = (
        grouped.select(F.posexplode("_ms").alias("_i", "_ma"), "_ms")
        .select(
            "_ma",
            F.explode(
                F.slice("_ms", F.col("_i") + 2, F.size("_ms"))
            ).alias("_mb"),
        )
        .select(
            F.col("_ma.id").alias("doc_a"),
            F.col("_mb.id").alias("doc_b"),
            F.col("_ma.sig").alias("sig_a"),
            F.col("_mb.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    agree = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    out = pairs.select(
        "doc_a",
        "doc_b",
        F.round(
            agree.cast("double") / hashing.MINHASH_NUM_HASHES, 6
        ).alias("est_jaccard"),
    )
    return LshPairs(pairs=out, deps=[banded], capped_buckets=capped)


def minhash_cross_pairs(
    new_df: DataFrame,
    ref_df: DataFrame,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> LshPairs:
    """Cross-corpus LSH near-dup candidates: every ``new_df`` document
    paired with the ``ref_df`` documents it band-collides with.

    This is the incremental-ingest twin of :func:`minhash_lsh_pairs`
    (the reference corpus is already curated; a delta batch must be
    checked AGAINST it, not against itself): same signatures, same
    banding, but the join is new x ref -- no self-join, no ``a < b``
    ordering, and the pair set is asymmetric (new_doc, ref_doc).

    Scale shape: the delta side is typically orders of magnitude smaller
    than the corpus, so the banded join's shuffle is dominated by the
    reference side -- which at steady state can be a PRE-COMPUTED,
    bucketed-by-band-key signature table that never re-shuffles (the
    signatures depend only on text, so they are computed once per doc,
    ever).  The skew cap is applied to the reference side, where the
    quadratic blow-up term |new_bucket| x |ref_bucket| lives; capped
    band keys are reported, not silently dropped.

    Returns :class:`LshPairs` with ``pairs`` = (new_doc, ref_doc,
    est_jaccard); ``deps`` must be unpersisted after materializing.
    """
    banded_ref = _minhash_banded(ref_df).persist()
    # No eager fill needed (r11, the minhash_lsh_pairs rationale): the
    # reference side of the pair join is gated on broadcast(capped),
    # whose build runs sizes over the cold cache first -- one pass,
    # fills it; the new side never touches this cache.  Precondition:
    # ``max_bucket`` is not None (otherwise nothing gates the pair
    # stage) and the job materializes ``pairs`` only (a job that also
    # materializes ``capped_buckets`` runs the ungated sizes branch
    # against the cold cache: a recompute, never a wrong answer).
    # Every current caller passes max_bucket and reads only pairs.
    banded_new = _minhash_banded(new_df)
    joinable_ref, capped = cap_hot_keys(banded_ref, "bk", max_bucket, "n_docs")

    n, x = banded_new.alias("n"), joinable_ref.alias("x")
    pairs = (
        n.join(x, F.col("n.bk") == F.col("x.bk"))
        .select(
            F.col("n.id").alias("new_doc"),
            F.col("x.id").alias("ref_doc"),
            F.col("n.sig").alias("sig_a"),
            F.col("x.sig").alias("sig_b"),
        )
        .dropDuplicates(["new_doc", "ref_doc"])
    )
    agree = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda a, b: F.when(a == b, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    out = pairs.select(
        "new_doc",
        "ref_doc",
        # exact rational (<=num_hashes integer / constant): emitted
        # unrounded per the registry float discipline
        (agree.cast("double") / hashing.MINHASH_NUM_HASHES).alias("est_jaccard"),
    )
    return LshPairs(pairs=out, deps=[banded_ref], capped_buckets=capped)


#: md5 salt of the SimHash token hashes, shared by the Spark and DuckDB
#: recipes below.
SIMHASH_SALT = "sh:"


def token_hashes(text_col: str = "text") -> Column:
    """md5-derived 32-bit hash per whitespace token -> array<bigint>.
    Project this ONCE, then derive SimHash bits from the array (hashing is
    the expensive part; the 16 bit-sums reuse the projected array).
    """
    return F.transform(
        tokens(text_col),
        lambda t: F.conv(
            F.substring(F.md5(F.concat(F.lit(SIMHASH_SALT), t)), 1, 8), 16, 10
        ).cast("bigint"),
    )


def simhash16_from_hashes(hashes: Column | str) -> Column:
    """16-bit SimHash from a pre-projected token-hash array.

    Bit j of the result is 1 iff sum over tokens of (+1 if hash bit j set
    else -1) is > 0 (ties -> 0).  Pure higher-order expressions;
    engine-portable for the DuckDB oracle.
    """
    hs = F.col(hashes) if isinstance(hashes, str) else hashes

    def merge_fn(j: int):
        # factory, not default-arg lambda: PySpark dispatches on arity.
        return lambda acc, hv: (
            acc + F.shiftright(hv, j).bitwiseAND(F.lit(1)) * 2 - 1
        )

    out = F.lit(0).cast("bigint")
    for j in range(16):
        s_j = F.aggregate(hs, F.lit(0).cast("bigint"), merge_fn(j))
        out = out + F.when(s_j > 0, F.lit(2**j)).otherwise(F.lit(0))
    return out.cast("bigint")


def simhash16_sql(hashes_expr: str) -> str:
    """DuckDB twin of :func:`simhash16_from_hashes` over a SQL list expr
    of token hashes (pair it with :func:`token_hashes_sql`)."""
    terms = []
    for j in range(16):
        s_j = f"list_sum([ ((hv >> {j}) & 1) * 2 - 1 FOR hv IN {hashes_expr} ])"
        terms.append(f"CASE WHEN ({s_j}) > 0 THEN {2**j} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def token_hashes_sql(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`token_hashes`."""
    toks = f"regexp_split_to_array(trim(lower({text_expr})), '\\s+')"
    h = f"CAST(('0x' || substr(md5('{SIMHASH_SALT}' || t), 1, 8)) AS BIGINT)"
    return f"[ {h} FOR t IN {toks} ]"


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'ed DataFrame's executor blocks NOW.

    DataFrame.unpersist() is a no-op for checkpointed frames (their
    blocks belong to the internal LogicalRDD, not the cache manager),
    and waiting for the ContextCleaner means blocks pile up until a
    driver GC happens to run.  The checkpointed RDD is reachable as
    queryExecution.analyzed (a LogicalRDD) -> .rdd; best-effort since
    it crosses into internals -- on any failure the ContextCleaner
    still reclaims eventually."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


class _CheckpointHandle:
    """Adapter giving a checkpointed DataFrame the same ``unpersist()``
    surface as a cached one, so Components.deps works with the shared
    _eager/deps release contract."""

    def __init__(self, df: DataFrame) -> None:
        self._df = df

    def unpersist(self) -> None:
        _release_local_checkpoint(self._df)


class Components(NamedTuple):
    """Result of connected-components resolution.

    labels  (node, comp) DataFrame -- comp is the min reachable node id
    deps    release handles the caller must ``unpersist()`` after
            materializing ``labels`` (they free the final round's
            localCheckpoint blocks; intermediate rounds are released
            inside the loop)
    """

    labels: DataFrame
    deps: list


def connected_components_local(pairs) -> dict:
    """Exact min-label connected components over a DRIVER-MATERIALIZED
    pair iterable -- union-find with path compression, roots kept at the
    component's MINIMUM node id.  Returns {node: min reachable node id},
    the same fixpoint :func:`connected_components` converges to.

    This is the r11 optimization for the gate consumers whose edge list
    is ALREADY collected to the driver (the adjudicated pair-scale
    ``_eager`` sites: LSH band caps bound the candidate set by
    construction): once the pairs are driver rows, re-distributing them
    so a 4-10-round label-propagation loop can run 1-2 Spark jobs per
    round is pure fixed latency -- measured 2.0-5.2 s per bench key at
    sf0.1 over graphs of 540-1294 edges that union-find resolves in
    well under a millisecond.  Callers with a genuinely distributed,
    corpus-scale edge list (curate.py) keep the distributed operator;
    nothing about ITS contract changes.

    Exactness: union-by-min-root keeps every tree's root at the
    component minimum, and find() path-compresses to the root, so after
    one pass every node maps to the min id reachable through the pair
    graph -- the definition the oracle's transitive closure checks.
    Deterministic: the result is a pure function of the edge SET
    (iteration order only changes transient tree shapes, never roots).
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def connected_components(edges: DataFrame, max_iter: int = 20) -> "Components":
    """Resolve near-dup candidate PAIRS (doc_a, doc_b) into duplicate CLUSTERS:
    iterative min-label propagation until fixpoint, returning
    (node, comp) with comp = the smallest node id reachable from node.

    This is the missing step between LSH pair generation and actual
    dedup -- keeping "one doc per pair" over-deletes when A~B and B~C
    (A and C are the same cluster).  Each round every node takes the
    min of its own label, its neighbors' labels, and its LABEL'S label
    -- the pointer-jumping/path-doubling step that lets labels skip
    along already-discovered chains.  All JVM: two shuffle joins + one
    grouped min per round.

    Scale judgment: plain propagation converges in O(graph diameter)
    rounds; pointer jumping roughly halves the unresolved distance
    each round on id-monotone chains, giving O(log diameter) -- the
    difference between 63 and ~6 rounds on a 64-node chain (asserted
    in tests/test_pipeline_compose.py).  r10 measurement caveat: the
    speedup is NOT unconditional -- on chains whose node ids
    alternate (many local minima), a label quickly points at a local
    min whose own label is itself, the jump stalls, and propagation
    falls back to +1 hop/round via neighbor messages (the sf0.1
    survivors cosine graph converges in 10 rounds at ANY jump depth;
    composing 2-3 jumps per round was measured to buy nothing there
    while lengthening every round's critical path, so exactly one
    jump is taken).  Near-dup graphs are quasi-cliques (LSH bands
    link most members of a duplicate cluster directly) where either
    converges in 2-4 rounds, but the jump is always taken because
    id-monotone adversarial chains cost almost nothing to defend
    against (the extra join is labels-with-labels, bounded by node
    count).  The alternating large-star/small-star formulation
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    additionally shrinks the EDGE set per round; not needed at the
    pair volumes LSH emits.  Each round's labels are persisted and
    the previous round's are dropped (the lloyd-loop contract) so
    lineage never re-executes.

    Round 1 is FREE (r10 optimization): at identity labels the
    neighbor messages are exactly the symmetric edge list and the
    jump adds nothing (label-of-label over identity is identity), so
    the initial labels are seeded directly with round 1's result --
    min(node, min over neighbors) -- as ONE aggregate over ``sym``
    that reuses sym's (src) hash partitioning (no extra exchange;
    the old ``distinct`` init cost the same shuffle and still needed
    the first propagation round afterwards).  ``max_iter`` bounds the
    LOOP rounds after that seeded first round.

    Lineage discipline: every round references `labels` in THREE
    branches (self + neighbor msgs + jump), so the logical plan would
    triple per round and analysis time would blow up exponentially --
    persist() caches results but does NOT truncate the plan.  Each
    round's labels therefore go through localCheckpoint(eager=True),
    which materializes to executor block storage and cuts the lineage
    to a leaf -- the standard pattern for iterative graph algorithms
    (GraphFrames' CC does the same).  Old checkpoint blocks are
    released by the ContextCleaner once unreferenced.

    The convergence check is exact and, for INTEGRAL node ids, FUSED
    into the checkpoint job: every round's label is min(old, neighbor
    msgs, jump), so per-node labels are monotone non-increasing and
    ``sum(comp)`` is unchanged iff NO label moved -- an exact fixpoint
    test.  The sum is taken in DECIMAL(38,0) (exact; a bigint sum
    could overflow past ~1e18 total label mass at corpus scale, and
    ANSI mode would make that loud rather than wrong) and collected
    via ``Dataset.observe`` on the DataFrame the eager localCheckpoint
    materializes -- the checkpoint IS an action (``withAction`` fires
    the QueryExecutionListener), so the mass rides the job that runs
    anyway and the old separate 1-row aggregate job per round (plus
    one before round 1) disappears (r10 optimization: per-round jobs
    2 -> 1; measured, the observed mass equals the collected mass).
    Non-integral ids (string url/hash keys, floats) cannot ride the
    decimal cast losslessly, so they dispatch to the type-agnostic
    moved-label equi-join check instead -- correctness never depends
    on the id type.
    """
    # Persist the symmetric edge list PRE-PARTITIONED on the join key:
    # every round joins sym on src, and without this the edge list --
    # the data-scale side of the loop -- would be re-shuffled once per
    # round.  One exchange total instead of one per round is the same
    # discipline rel_pagerank pins with
    # test_pagerank_reuses_persisted_edge_list.
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .repartition("src")
        .persist()
    )
    try:
        # Fixpoint detection is type-dispatched.  The sum-mass check
        # (sum is unchanged iff no monotone-non-increasing label
        # moved) requires ids whose DECIMAL(38,0) cast is lossless and
        # injective -- integral types only.  Any other id type (string
        # urls/hash keys, floats whose cast truncates) falls back to
        # the type-agnostic moved-label count: a checkpoint-to-
        # checkpoint equi-join that costs one extra shuffle per round
        # but compares labels by real equality.
        integral_ids = isinstance(
            sym.schema["src"].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        )
        _mass_agg = F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")

        def _checkpoint_with_mass(df: DataFrame):
            """Eager localCheckpoint; for integral ids the fixpoint
            mass rides the checkpoint's own job via observe (the
            eager checkpoint is a tracked action, so the listener
            fires) instead of a second 1-row aggregate job."""
            if not integral_ids:
                return df.localCheckpoint(eager=True), None
            obs = Observation()
            ck = df.observe(obs, _mass_agg).localCheckpoint(eager=True)
            return ck, obs.get["s"]

        # Seed with round 1's result directly (see docstring: at
        # identity labels round 1 reduces to min(node, min neighbor),
        # one exchange-free aggregate over the pre-partitioned sym).
        labels, prev_mass = _checkpoint_with_mass(
            sym.groupBy("src")
            .agg(F.min(F.least("src", "dst")).alias("comp"))
            .select(F.col("src").alias("node"), "comp")
        )

        def _moved(old: DataFrame, new: DataFrame) -> bool:
            o = old.select(
                F.col("node").alias("o_node"), F.col("comp").alias("o_comp")
            )
            return bool(
                new.join(o, new.node == F.col("o_node"))
                .where(F.col("comp") != F.col("o_comp"))
                .limit(1)
                .count()
            )

        for it in range(max_iter):
            msgs = sym.join(labels, sym.src == labels.node).select(
                F.col("dst").alias("node"), F.col("comp")
            )
            l1, l2 = labels.alias("l1"), labels.alias("l2")
            jumped = l1.join(
                l2, F.col("l1.comp") == F.col("l2.node")
            ).select(F.col("l1.node").alias("node"), F.col("l2.comp"))
            cand = labels.select("node", "comp").unionAll(msgs).unionAll(jumped)
            new, cur_mass = _checkpoint_with_mass(
                cand.groupBy("node").agg(F.min("comp").alias("comp"))
            )
            if it == max_iter - 1:  # no next round: the check can't matter
                _release_local_checkpoint(labels)
                labels = new
                break
            if integral_ids:
                _release_local_checkpoint(labels)
                labels = new
                if cur_mass == prev_mass:  # exact fixpoint: no label moved
                    break
                prev_mass = cur_mass
            else:
                converged = not _moved(labels, new)
                _release_local_checkpoint(labels)
                labels = new
                if converged:
                    break
    finally:
        # sym is function-local: no caller could release it via deps,
        # so a mid-loop job failure must not leave the repartitioned
        # edge list -- the data-scale side -- pinned in block storage.
        sym.unpersist()
    out = labels.select("node", "comp")
    # same explicit release contract as LshPairs: the gate query
    # materializes via _eager(deps=res.deps).
    return Components(labels=out, deps=[_CheckpointHandle(labels)])


def incremental_dedup_keep_digests(digests: DataFrame, delta: DataFrame) -> DataFrame:
    """Core of incremental dedup against a pre-hashed digest index:
    surviving delta (h, doc_id) rows = min doc_id per ``text`` hash
    within the delta, minus hashes present in ``digests`` (a
    single-column ``h`` DataFrame).  Shared by the batch gate query
    (dedup_incremental) and the streaming foreachBatch ingest sink so
    their dedup key and tie-break rules cannot drift apart."""
    keep = (
        delta.select(F.col("doc_id"), F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return keep.join(digests, "h", "left_anti")


def incremental_dedup_keep(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental (delta-vs-corpus) exact dedup: surviving delta
    ``doc_id``s = min id per ``text`` hash within the delta, minus hashes
    already present in the base corpus.  Only 16-byte digests move; at scale
    the base digest index is bucketed by hash so its anti-join side is
    scan-in-place (see the dedup_incremental gate query)."""
    bh = base.select(F.md5("text").alias("h")).distinct()
    return incremental_dedup_keep_digests(bh, delta).select("doc_id")


def cdc_chunk_stats(df: DataFrame) -> DataFrame:
    """Passage-level exact dedup via CONTENT-DEFINED chunking (the CCNet/
    rsync idea): a token starts a new chunk when its md5('cdc:' || token)
    bucket ``% 8 == 0``, so chunk boundaries are a function of the
    CONTENT, not of position -- inserting one word near the top of a
    document re-chunks only the chunk it lands in, unlike fixed-width
    windows where every downstream passage shifts.  Expected chunk
    length = 8 words.

    Returns one row per document: (doc_id, n_chunks, dup_chunks, dup_ratio)
    where a chunk counts as duplicated when its exact text occurs in at
    least one OTHER document.  ``dup_ratio`` is a single IEEE division
    of two exact bigints (emitted unrounded per the registry float
    policy).

    Scale shape (100 TB judgment):
    - one exchange of the token stream on ``doc_id`` for the
      prefix-sum window (same shape as sessionization; AQE splits any
      outsized doc partition),
    - chunk assembly groups (id, chunk_no) WITHIN that partitioning --
      no second token shuffle,
    - cross-corpus counting shuffles 16-byte chunk digests only, with
      map-side partial aggregation; chunk text never leaves the
      assembly stage.
    """
    from pyspark.sql.window import Window

    words = df.select(
        F.col("doc_id"), F.posexplode(tokens("text")).alias("pos", "w")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cdc:"), F.col("w"))), 1, 8), 16, 10
        ).cast("bigint")
        % 8
    )
    flagged = words.withColumn("b", (bucket == 0).cast("int"))
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.select(
        "doc_id", "pos", "w", F.sum("b").over(run).alias("chunk_no")
    )
    chunks = numbered.groupBy("doc_id", "chunk_no").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            )
        ).alias("chunk_hash")
    )
    # (chunk_hash, doc) occurrence counts group WITHIN the doc
    # partitioning (grouping keys are a superset of the window's
    # partition key -- no exchange); the cross-corpus doc count is a
    # WINDOW over chunk_hash, not a self-join: a join of two aggregates
    # over the same lineage would scan + chunk the corpus twice.
    per_doc_hash = chunks.groupBy("chunk_hash", "doc_id").agg(
        F.count("*").alias("n_occ")
    )
    joined = per_doc_hash.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("chunk_hash"))
    )
    return joined.groupBy("doc_id").agg(
        F.sum("n_occ").alias("n_chunks"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_occ")).otherwise(0)).alias(
            "dup_chunks"
        ),
    ).select(
        "doc_id",
        "n_chunks",
        "dup_chunks",
        (F.col("dup_chunks").cast("double") / F.col("n_chunks")).alias(
            "dup_ratio"
        ),
    )

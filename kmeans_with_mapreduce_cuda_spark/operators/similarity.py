"""Similarity search over embedding columns: brute-force cosine top-k
(exact baseline) and an IVF (inverted-file) ANN path that uses the
K-Means operator as its coarse quantizer -- the standard scale design:
cluster once, then probe only the nearest ``nprobe`` cells per query.

At 100 TB the candidates side is partitioned by cell id, the query side
is broadcast, and each probe touches ~nprobe/k of the data instead of
all of it; recall vs speed is the (k, nprobe) dial.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.distance import cosine_similarity
from .kmeans import CentroidsND, _argmin_sql, assign_nd, lloyd_nd, seed_centroids_nd


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    features: str = "emb",
    q_features: str = "q_emb",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side, JVM-side dot
    products, window top-k with (similarity desc, id) tie order.

    ``exclude_self`` (default True) drops candidates whose ``id_col``
    equals the query's ``q_id_col`` -- correct when queries ARE corpus
    rows (the gate fixtures: a vector's trivial self-match is noise).
    Pass False when the query id space is unrelated to the corpus id
    space, where the filter would silently drop a true neighbor that
    merely shares an id value (code-review r10)."""
    sim = cosine_similarity(q_features, features)
    w = Window.partitionBy(q_id_col).orderBy(F.col("_sim").desc(), F.col(id_col))
    out = candidates.crossJoin(F.broadcast(queries))
    if exclude_self:
        out = out.where(F.col(q_id_col) != F.col(id_col))
    return (
        out.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def brute_force_range(
    candidates: DataFrame,
    queries: DataFrame,
    threshold: float,
    features: str = "emb",
    q_features: str = "q_emb",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine RANGE search (radius query, FAISS range_search): every
    candidate with cos >= threshold per query, unranked.  Same broadcast
    + JVM-dot shape as brute_force_topk but WINDOW-FREE: a radius query
    needs no per-query ordering, so the plan is a single narrow
    filter-projection pass over the corpus -- at 100 TB the scan
    parallelizes embarrassingly with zero shuffle (top-k at least heaps
    per partition; range search doesn't even do that).

    ``exclude_self`` as in :func:`brute_force_topk`: True when queries
    are corpus rows (the gate semantics), False for an external query id
    space."""
    sim = cosine_similarity(q_features, features)
    out = candidates.crossJoin(F.broadcast(queries))
    if exclude_self:
        out = out.where(F.col(q_id_col) != F.col(id_col))
    return out.withColumn("_sim", sim).where(F.col("_sim") >= threshold)


def hyperplanes_pm1(
    dim: int = 64, n_planes: int = 8, seed: int = 42
) -> list[list[int]]:
    """Deterministic random-hyperplane family with ±1 components, derived
    from md5 bits (no RNG state) -- the sign-of-dot-product sketch is the
    classic cosine LSH (Charikar SimHash for vectors), and ±1 components
    make the dot product a plain add/subtract chain that is expressible
    identically in Spark SQL and the DuckDB oracle."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"hp{seed}:{j}:{i}".encode()).digest()[0] & 1
            else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def lsh_bucket_sql(
    emb: str, planes: list[list[int]], one_based: bool
) -> str:
    """SQL expression for the hyperplane-sign bucket of an embedding
    column: bit j set iff dot(emb, h_j) > 0.  Same string works in Spark
    (one_based=False) and DuckDB (one_based=True) because the ±1
    components reduce each dot to a left-to-right add/subtract chain --
    identical float association order in both engines."""
    assert len(planes) <= 31, (
        f"n_planes={len(planes)} overflows the INT32 bucket id "
        "(2^j weight terms wrap silently in Spark's non-ANSI cast and "
        "error in DuckDB); 31 planes = 2^31 buckets is the cap"
    )
    off = 1 if one_based else 0
    terms = []
    for j, signs in enumerate(planes):
        dot = "".join(
            ("+" if s > 0 else "-") + f"{emb}[{i + off}]"
            for i, s in enumerate(signs)
        )
        terms.append(f"(CASE WHEN ({dot.lstrip('+')}) > 0 THEN {2**j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


def n_planes_for(n_vectors: int, target_bucket: int = 256) -> int:
    """Plane count sized to the corpus: 2^planes buckets put an EXPECTED
    ``target_bucket`` vectors in each, so within-bucket join output stays
    ~n_vectors * target_bucket regardless of corpus size.  A FIXED plane
    count is quadratic ruin at scale (4 planes = 16 buckets over 20M
    vectors -> ~1.25e6 per bucket -> ~1.25e13 candidate pairs); planes
    must grow with log2(N).

    Capped at 31: the bucket id is an INT32 with 2^j weight terms, so
    32+ planes would wrap (lsh_bucket_sql asserts the same bound).  The
    cap binds only above ~5.5e11 vectors x 256/bucket; past it, grow
    ``target_bucket`` instead of planes.
    """
    import math

    if n_vectors <= target_bucket:
        return 1
    return min(31, max(1, math.ceil(math.log2(n_vectors / target_bucket))))


def lsh_bucket_pairs(
    df: DataFrame,
    *,
    n_planes: int,
    id_col: str = "vec_id",
    features: str = "embedding",
    seed: int = 42,
    threshold: float = 0.3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cosine LSH candidate pairs: bucket vectors by their hyperplane-sign
    signature, self-join WITHIN buckets only, keep pairs with cosine >=
    threshold.  Near-parallel vectors agree on every sign with high
    probability, so they collide; the join key is the bucket -- no
    all-pairs comparison, the same LSH shape as MinHash banding but for
    the embedding column.  Recall dial: fewer planes = bigger buckets =
    higher recall and more candidates.

    ``n_planes`` is REQUIRED (no default) because the right value is a
    function of corpus size, not a constant: expected bucket occupancy
    is N / 2^planes, so candidate-pair volume is ~N^2 / 2^planes --
    a fixed plane count silently goes quadratic as N grows.  Size it
    with ``n_planes_for(N)`` (keeps expected occupancy ~256); the gate
    query pins 4 only because its 2k-vector fixture needs populated
    buckets for an oracle-checkable result.

    Skew guard (same rationale as ``dedup.minhash_lsh_pairs``): a
    degenerate sign bucket -- e.g. a corpus dominated by one embedding
    direction -- produces quadratic within-bucket output on one join
    key.  ``max_bucket`` pre-counts bucket cardinality and excludes
    oversized buckets via a broadcast anti-join; at scale you follow up
    on capped buckets with a second banding pass (more planes) instead
    of brute-forcing them.  ``None`` (the default here: 2^n_planes
    buckets are coarse, small fixtures skew naturally) disables.

    Persistence contract (the within_cell_cosine_pairs discipline): the
    bucketed projection of ``df`` is consumed TWICE (both self-join
    sides) and three times with ``max_bucket`` set (plus the bucket
    count) -- at scale the CALLER should persist ``df`` before calling
    (and owns the unpersist); the operator does not persist internally
    so cache lifetime stays with the caller (code-review r10).

    Returns (vec_a, vec_b, bucket, cos_sim), vec_a < vec_b.
    """
    planes = hyperplanes_pm1(
        dim=_emb_dim(df, features), n_planes=n_planes, seed=seed
    )
    e = df.select(
        F.col(id_col).alias("id"),
        F.col(features).cast("array<double>").alias("_emb"),
    ).withColumn("bucket", F.expr(lsh_bucket_sql("_emb", planes, one_based=False)))
    if max_bucket is not None:
        hot = (
            e.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_bucket)
            .select("bucket")
        )
        e = e.join(F.broadcast(hot), "bucket", "left_anti")
    a, b = e.alias("a"), e.alias("b")
    sim = cosine_similarity(F.col("a._emb"), F.col("b._emb"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .withColumn("_sim", sim)
        .where(F.col("_sim") >= threshold)
        .select(
            F.col("a.id").alias("vec_a"),
            F.col("b.id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            F.round("_sim", 6).alias("cos_sim"),
        )
    )


def within_cell_cosine_pairs(
    assigned: DataFrame,
    dim: int,
    threshold: float,
    *,
    id_col: str = "vec_id",
    emb_col: str = "emb",
    norm_col: str = "nrm",
    cell_col: str = "cell_id",
    max_cell: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Cosine pairs WITHIN blocking cells -- the SemDeDup join stage,
    factored out of the gate query so the skew guard is part of the
    operator, not prose.  ``assigned`` carries (id, emb array<double>,
    precomputed l2 norm, cell_id); returns ``(pairs, capped_cells)``.

    Scale shape: the equi-join on cell_id shuffles each cell to one
    task, so output (and one task's work) is quadratic in the LARGEST
    cell.  Organic corpora keep cells bounded; adversarial duplication
    (every doc byte-identical) concentrates one cell.  ``max_cell``
    bounds that: cells above the cap are excluded via a broadcast
    anti-join (the hot-key list is tiny at any scale -- the
    dedup.minhash_lsh_pairs precedent) and returned AS DATA in
    ``capped_cells`` (cell_id, n) -- never silently dropped.  The
    caller routes capped cells to the strategy that actually fits
    them: exact/MinHash dedup first (byte-duplicates are why a cell
    explodes), or a recursive sub-clustering pass within the cell.
    ``None`` disables (the dedup_semantic_clustered gate instance,
    where the fixture's cells are bounded by construction;
    dedup_semantic_capped exercises the capped path oracle-checked).

    Persistence contract: ``assigned`` is consumed THREE times when
    ``max_cell`` is set (the cell-count groupBy plus both self-join
    sides) and twice when unset -- the CALLER must persist it before
    calling (and owns the unpersist; both gate queries do this via
    ``_semantic_dedup_build`` + ``_eager``).  The operator does not
    persist internally so lifetime stays with the caller.

    Pair scoring runs as a grouped-map pandas kernel, one cell per
    group (guide §4.2: hand whole batches to vectorized native code):
    the r10 SQL self-join evaluated the ``dim``-term dot inside the
    BroadcastHashJoin CONDITION, where Spark's expression evaluation
    measured 4-120 us per PAIR (the giant condition never reached
    whole-stage codegen; per-pair cost even varied 25x with the task
    layout) -- ~1.2-2.6 s at sf0.1 for 250k candidate pairs whose raw
    float work is ~16M FLOP.  The kernel reproduces the SQL result
    BIT-EXACTLY: products and the left-associated accumulation order
    of ``dot_product_sql`` are replayed as one numpy op per dimension
    (``G += outer(A[:,j], B[:,j])`` rounds each product and each
    partial sum exactly like the SQL chain), the threshold compares
    the same unrounded double, and rounding stays in the JVM
    (``F.round``, Spark HALF_UP semantics -- numpy's round differs).
    Measured at sf0.1: 1.2-2.6 s -> ~0.4 s for the stage-1 join, and
    the result set is byte-identical (asserted by
    tests/test_similarity.py::test_within_cell_pairs_matches_sql_join).

    Scale shape: one cell = one group = one task, exactly like the
    previous equi-join (one cell = one hash bucket); ``max_cell``
    bounds the group where it is set, and the kernel accumulates G in
    row/col BLOCKS so its transient memory is O(block^2), not O(n^2),
    for the uncapped contract.  Only (id, emb, nrm, cell) cross the
    Arrow boundary -- candidate PAIRS never do; output is the
    surviving pairs only.
    """
    counts = assigned.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))
    if max_cell is not None:
        capped = counts.where(F.col("n") > max_cell)
        assigned = assigned.join(
            F.broadcast(capped.select(cell_col)), cell_col, "left_anti"
        )
    else:
        capped = counts.where(F.lit(False))
    id_t = assigned.schema[id_col].dataType.simpleString()
    # Null semantics of the old join, preserved: a NULL cell never
    # equi-joined (dropped); NULL emb/nrm/id made the join condition
    # NULL -> row dropped.  Filter them out before grouping.
    narrowed = assigned.select(
        F.col(id_col).alias("_pid"),
        F.col(emb_col).alias("_pemb"),
        F.col(norm_col).alias("_pnrm"),
        cell_col,
    ).where(
        F.col(cell_col).isNotNull()
        & F.col("_pid").isNotNull()
        & F.col("_pemb").isNotNull()
        & F.col("_pnrm").isNotNull()
    )
    raw = narrowed.groupBy(cell_col).applyInPandas(
        _cell_pairs_kernel(float(threshold), _PAIR_BLOCK),
        f"vec_a {id_t}, vec_b {id_t}, cos_sim double",
    )
    pairs = raw.select(
        "vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim")
    )
    return pairs, capped


#: row/col block edge for the pair kernel's G accumulation: transient
#: memory is O(block^2) doubles (~32 MB at 2048) no matter how large an
#: uncapped cell grows.
_PAIR_BLOCK = 2048


def _cell_pairs_kernel(threshold: float, block: int):
    """Grouped-map kernel factory for within_cell_cosine_pairs: all
    pairs (i, k) of one cell with id_i < id_k and cosine >= threshold.
    ``block`` is closed over (picked up driver-side) so tests can
    exercise block boundaries.  See the caller's docstring for the
    bit-exactness argument."""

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        # sort by id so the strict upper triangle IS id_a < id_b
        pdf = pdf.sort_values("_pid", kind="mergesort")
        ids = pdf["_pid"].to_numpy()
        A = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["_pemb"]]
        )
        nrm = pdf["_pnrm"].to_numpy(dtype=np.float64)
        dim = A.shape[1]
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            for k0 in range(i0, n, block):
                k1 = min(k0 + block, n)
                # left-associated over dims, like dot_product_sql:
                # each product and each partial sum rounds once
                G = np.multiply.outer(A[i0:i1, 0], A[k0:k1, 0])
                for j in range(1, dim):
                    G += np.multiply.outer(A[i0:i1, j], A[k0:k1, j])
                S = G / np.multiply.outer(nrm[i0:i1], nrm[k0:k1])
                ii, kk = np.nonzero(S >= threshold)
                gi, gk = ii + i0, kk + k0
                # strict upper triangle on ids (ids are sorted, so
                # index order is id order; equal ids never pair)
                m = ids[gi] < ids[gk]
                gi, gk, sv = gi[m], gk[m], S[ii, kk][m]
                if len(gi):
                    out_a.append(ids[gi])
                    out_b.append(ids[gk])
                    out_c.append(sv)
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_c),
            }
        )

    return kernel


def _emb_dim(df: DataFrame, features: str) -> int:
    """Embedding dimensionality from the first row (driver-side, 1 row).

    Readable failure on an empty table or NULL first embedding -- the
    model-fit contract (pq_codebooks precedent), never a TypeError from
    subscripting None (code-review r10)."""
    row = df.select(F.size(features).alias("d")).first()
    if row is None or row["d"] is None or row["d"] < 0:
        raise RuntimeError(
            f"cannot infer embedding dimensionality: table is empty or the "
            f"first {features!r} value is NULL"
        )
    return int(row["d"])


def build_ivf_index(
    df: DataFrame,
    n_cells: int = 16,
    features: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 5,
    seed: int = 42,
) -> tuple[DataFrame, CentroidsND]:
    """Coarse-quantize: K-Means cells over the embedding column; returns
    (df + cell_id column, cell centroids).  At scale you would persist the
    assigned table partitioned/bucketed BY cell_id so probes prune files.
    """
    init = seed_centroids_nd(df, k=n_cells, seed=seed, key=id_col, features=features)
    cents = lloyd_nd(df, init, max_iter=max_iter, features=features)
    indexed = assign_nd(df, cents, features=features, out="cell_id")
    return indexed, cents


def persist_ivf_index(indexed: DataFrame, path: str) -> None:
    """Persist the IVF-indexed table partitioned BY cell_id: a probe that
    filters on cell_id then prunes whole directories -- at 100 TB each
    query touches nprobe/n_cells of the files, nothing else is opened."""
    from ..sources.writers import write_partitioned_parquet

    write_partitioned_parquet(indexed, path, ["cell_id"])


def route_to_cells(
    queries: DataFrame,
    cents: CentroidsND,
    nprobe: int,
    q_features: str = "q_emb",
) -> DataFrame:
    """Attach a ``cell_id`` per (query, probed cell): each query routes
    to its ``nprobe`` nearest centroids by squared-Euclidean distance,
    ties to the lowest cell id (array_sort on (dist, idx) structs).
    The single source of the probe semantics -- used by ivf_topk and
    the composed IVF-SQ8 gate query so tie-break/nprobe rules cannot
    drift between them."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(q_features).cast("array<double>"),
                    F.array(*[F.lit(float(v)) for v in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in cents
        ]
    )
    pairs = F.transform(
        dists, lambda d, i: F.struct(d.alias("d"), i.alias("cell"))
    )
    probe_cells = F.slice(
        F.transform(F.array_sort(pairs), lambda s: s["cell"]), 1, nprobe
    )
    return (
        queries.withColumn("_probe", probe_cells)
        .withColumn("cell_id", F.explode("_probe"))
        .drop("_probe")
    )


def ivf_topk(
    indexed: DataFrame,
    cents: CentroidsND,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    features: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_features: str = "q_emb",
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k: route each query to its ``nprobe`` nearest cells, then
    brute-force only within those cells (equi-join on cell_id -- the scan
    prunes to nprobe/n_cells of the data instead of a full cross join).

    ``exclude_self`` as in :func:`brute_force_topk`: True when queries
    are corpus rows (the gate semantics), False for an external query id
    space.
    """
    q = route_to_cells(queries, cents, nprobe, q_features=q_features)

    sim = cosine_similarity(q_features, F.col(features).cast("array<double>"))
    w = Window.partitionBy(q_id_col).orderBy(F.col("_sim").desc(), F.col(id_col))
    joined = indexed.join(F.broadcast(q), "cell_id")
    if exclude_self:
        joined = joined.where(F.col(q_id_col) != F.col(id_col))
    return (
        joined.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id_col, id_col, F.round("_sim", 6).alias("cos_sim"), "rank")
    )


def quantize_embeddings_int8(
    df: DataFrame, features: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q[i] = round(v[i] * 127 /
    max|v|), stored with the float scale max|v|/127.

    The standard memory/IO lever for vector search at corpus scale: an
    int8 code array is 4x smaller than float32, so 4x more of the index
    fits in executor memory / page cache and every ANN scan reads 4x
    fewer bytes.  Pure JVM higher-order expressions -- no UDF, columnar
    all the way to parquet (which stores the tinyint array compactly).
    All-zero vectors get scale 0 and all-zero codes.
    """
    v = F.col(features).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    # nullif guards the 0-scale division; coalesce restores 0 codes
    q = F.transform(
        v,
        lambda x: F.coalesce(
            F.round(x / F.nullif(scale, F.lit(0.0))), F.lit(0.0)
        ).cast("tinyint"),
    )
    return df.select(
        F.col(id_col),
        q.alias("q_code"),
        F.round(scale, 9).cast("float").alias("q_scale"),
    )


def int8_cosine(
    a_code: Column | str,
    b_code: Column | str,
) -> Column:
    """Approximate cosine from int8 codes: the per-vector scales cancel
    in the normalized dot product, so this is just the cosine of the
    code vectors -- which is why this takes NO scale arguments (an
    earlier signature accepted and silently ignored them; scales matter
    only for reconstructing magnitudes, code-review r10).  Quantization
    error is bounded by the rounding step (<=0.5/127 per component
    before normalization)."""
    ac = F.col(a_code) if isinstance(a_code, str) else a_code
    bc = F.col(b_code) if isinstance(b_code, str) else b_code
    to_d = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    a, b = to_d(ac), to_d(bc)
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x
        )
    )
    return dot / F.nullif(norm(a) * norm(b), F.lit(0.0))


# --- Product quantization (PQ) + asymmetric distance (ADC) -------------------

def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    dsub: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    features: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: subspace ``s`` of code ``j`` is dims
    ``[s*dsub, (s+1)*dsub)`` of the embedding of ``id < k`` -- the same
    data-derived seeding contract as the K-Means queries (no RNG, so a
    DuckDB oracle can re-derive the identical codebook from the table).
    Returns ``cb[s][j] == list of dsub floats``; the collect is k rows
    (the driver-side model boundary, exactly like centroid literals).
    """
    rows = (
        emb.where(F.col(id_col) < k)
        .orderBy(id_col)
        .select(features)
        .collect()
    )
    assert len(rows) == k, f"codebook wants {k} seed vectors, got {len(rows)}"
    vecs = [[float(v) for v in r[0]] for r in rows]
    return [
        [vecs[j][s * dsub : (s + 1) * dsub] for j in range(k)]
        for s in range(m)
    ]


def _sq_dist_sql(vec_col: str, offset: int, code: list[float]) -> str:
    """SQL text of the left-associated sum of squared diffs between
    embedding dims [offset, offset+len(code)) and a literal code
    vector.  The FIXED association order is the float-determinism
    contract: the oracle generates the same tree, float->double casts
    are exact, so the resulting double is bit-identical across engines
    (registry float policy: controlled-order short chains stay
    UNROUNDED).  Generated as TEXT, not Column-API calls: the
    expression has m*k*dsub ~ 1000 terms, and building it one py4j
    call at a time cost ~15 s of pure driver round-trips per query
    build (the update_nd / HOF-as-SQL-text lesson); one F.expr parse
    of the same tree is milliseconds.  Literals carry the ``D`` suffix
    so Spark parses them as DOUBLE (a bare ``0.12`` parses as DECIMAL
    and would change the arithmetic type lattice); repr() is the
    shortest round-trip form, so the parsed double is bit-equal to the
    Python float."""
    import math

    assert code, "empty code vector"
    terms = []
    for d, c in enumerate(code):
        c = float(c)
        if not math.isfinite(c):
            # repr(nan)+'D' would be unparseable SQL ('nanD'); a
            # non-finite codebook/query value is bad upstream data --
            # fail loudly at build with a readable message instead of a
            # ParseException (code-review r5 finding)
            raise ValueError(
                f"non-finite literal {c!r} at dim {offset + d} -- "
                "codebook/query vectors must be finite"
            )
        e = f"CAST(element_at({vec_col}, {offset + d + 1}) AS DOUBLE)"
        lit = f"{c!r}D"
        terms.append(f"(({e} - {lit}) * ({e} - {lit}))")
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    return acc


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    features: str = "embedding",
    code_prefix: str = "code_",
) -> DataFrame:
    """Encode vectors to per-subspace nearest-code ids (tie -> lowest
    code id via array_position-of-min) plus ``code_packed``: all m
    codes packed little-endian at 4 bits each (k=16) into ONE bigint --
    the 100 TB serving artifact is this 8-byte column, a 32x scan/
    memory reduction over the 64-dim float vector.  Pure literal-baked
    codegen projection: no join, no shuffle (the codebook IS the
    plan, like the K-Means assign stage)."""
    m, k = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    cols = ["*"]
    for s in range(m):
        arr = "array({})".format(
            ", ".join(
                _sq_dist_sql(features, s * dsub, codebooks[s][j])
                for j in range(k)
            )
        )
        cols.append(f"{_argmin_sql(arr)} AS {code_prefix}{s}")
    out = df.selectExpr(*cols)
    packed: Column | None = None
    for s in range(m):
        t = F.col(f"{code_prefix}{s}").cast("bigint") * F.lit(k ** s)
        packed = t if packed is None else packed + t
    out = out.withColumn("code_packed", packed)
    return out


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    q_vec: list[float],
    k_results: int = 10,
    id_col: str = "vec_id",
    code_prefix: str = "code_",
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays UNQUANTIZED; each
    subspace's 16 query-to-code distances are precomputed driver-side
    into a lookup table baked into the plan as literal arrays, so the
    per-row cost is m element_at lookups + an (m-1)-add fold --
    independent of the raw dimensionality.  TakeOrderedAndProject
    (never a global sort) returns the k best by (adc_dist, id).

    The LUT entries and the fold use the same left-associated order as
    the oracle's generated SQL, so ``adc_dist`` is bit-identical across
    engines and is emitted unrounded."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    luts = []
    for s in range(m):
        row = []
        for code in codebooks[s]:
            acc = 0.0
            for d in range(dsub):
                t = q_vec[s * dsub + d] - code[d]
                acc = acc + t * t
            row.append(acc)
        luts.append(row)
    dist: Column | None = None
    for s in range(m):
        lut = F.array(*[F.lit(float(v)) for v in luts[s]])
        t = F.element_at(lut, F.col(f"{code_prefix}{s}") + 1)
        dist = t if dist is None else dist + t
    return (
        encoded.select(
            F.col(id_col), F.col("code_packed"), dist.alias("adc_dist")
        )
        .orderBy("adc_dist", id_col)
        .limit(k_results)
    )


def matryoshka_topk(
    emb: DataFrame,
    q_vec: list[float],
    coarse_dims: int = 8,
    k_coarse: int = 50,
    k_final: int = 5,
    id_col: str = "vec_id",
    features: str = "embedding",
) -> DataFrame:
    """Coarse-to-fine two-stage retrieval over prefix-truncatable
    (Matryoshka-style) embeddings: rank by squared distance on the
    first ``coarse_dims`` dimensions, keep the best ``k_coarse``
    candidates, then re-rank ONLY those with the full-dimension exact
    distance and return the final top ``k_final``.

    Scale shape: stage 1 is a narrow shuffle-free projection feeding
    TakeOrderedAndProject -- top-k is MERGEABLE, so each task keeps a
    k_coarse-row heap and only heaps cross the final merge (never a
    global sort).  Stage 2 touches k_coarse rows total, so the
    full-dimension arithmetic cost is O(k_coarse * dim) regardless of
    corpus size -- the classic 8x compute cut (coarse_dims/dim) of
    two-stage retrieval.  The embedding rides through the stage-1 heap
    (50 rows/task), which beats a join-back at any scale when vectors
    live in one array column; a deployment that stores the prefix as
    its own column would read only that column in stage 1 (column
    pruning) and broadcast-join the survivors back for stage 2.

    Determinism: distances are generated left-associated against
    literal query values (:func:`_sq_dist_sql`), so an oracle stating
    the same tree agrees bit-for-bit and both stages' (dist, id)
    orderings are exact -- the candidate CUT at k_coarse is therefore
    engine-portable, which a float-divergent distance would break.
    """
    coarse = F.expr(
        _sq_dist_sql(features, 0, [float(v) for v in q_vec[:coarse_dims]])
    )
    cand = (
        emb.select(
            F.col(id_col), F.col(features), coarse.alias("coarse_dist")
        )
        .orderBy("coarse_dist", id_col)
        .limit(k_coarse)
    )
    full = F.expr(_sq_dist_sql(features, 0, [float(v) for v in q_vec]))
    return (
        cand.select(id_col, "coarse_dist", full.alias("full_dist"))
        .orderBy("full_dist", id_col)
        .limit(k_final)
    )


def grid_radius_pairs(
    pts: DataFrame,
    r: float,
    id_col: str = "vec_id",
    x: str = "x",
    y: str = "y",
    r_sq: float | None = None,
) -> DataFrame:
    """All point pairs within Euclidean distance ``r``, by exact grid
    blocking: one cell of width exactly ``r`` per point, the left side
    exploded to its 3x3 neighborhood, candidates met in a two-column
    equi hash join, verified by the true squared distance.  Cell width
    >= r makes the neighborhood a PROOF of recall (a pair within r
    differs by <= 1 cell per axis) -- exact, unlike LSH blocking.
    Returns (id_a, id_b, dist_sq) with id_a < id_b, each pair once
    (a pair meets in exactly one neighbor offset because each point
    has ONE home cell).  Skew note: a corpus piling onto one cell is
    the hot-bucket case -- cap or sub-split cells the way the LSH
    band cap does if that ever applies.
    """
    p = pts.select(
        F.col(id_col).alias("_id"),
        F.col(x).cast("double").alias("_x"),
        F.col(y).cast("double").alias("_y"),
    ).withColumns(
        {
            "_cx": F.floor(F.col("_x") / r).cast("long"),
            "_cy": F.floor(F.col("_y") / r).cast("long"),
        }
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = p.withColumn("_o", F.explode(offsets)).select(
        F.col("_id").alias("id_a"),
        F.col("_x").alias("xa"),
        F.col("_y").alias("ya"),
        (F.col("_cx") + F.col("_o.dx")).alias("ncx"),
        (F.col("_cy") + F.col("_o.dy")).alias("ncy"),
    )
    b = p.select(
        F.col("_id").alias("id_b"),
        F.col("_x").alias("xb"),
        F.col("_y").alias("yb"),
        "_cx",
        "_cy",
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(
            b,
            (F.col("ncx") == F.col("_cx")) & (F.col("ncy") == F.col("_cy")),
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist_sq.alias("dist_sq"))
        # pass r_sq explicitly when an oracle states the literal (the
        # rel_spatial_radius_join ulp-pinning contract)
        .where(F.col("dist_sq") <= F.lit(r_sq if r_sq is not None else r * r))
    )

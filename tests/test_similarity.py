"""Similarity + dedup property tests (oracle-less paths: IVF ANN recall,
LSH candidate quality)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kmeans_with_mapreduce_cuda_spark.operators.dedup import minhash_lsh_pairs
from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_topk,
)
from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table

from conftest import SF_DIR

QUERY_IDS = (0, 7, 42)
K = 10


def _queries(e):
    return e.where(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )


def test_ivf_recall_vs_bruteforce(spark):
    e = load_table(spark, SF_DIR, "embeddings").cache()
    q = _queries(e)

    cand = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    exact = brute_force_topk(cand, q, k=K)
    exact_sets = {
        r["q_id"]: set()
        for r in exact.select("q_id").distinct().collect()
    }
    for r in exact.select("q_id", "vec_id").collect():
        exact_sets[r["q_id"]].add(r["vec_id"])

    indexed, cents = build_ivf_index(e, n_cells=8, max_iter=3)
    approx = ivf_topk(indexed, cents, q, k=K, nprobe=3)
    approx_sets: dict[int, set] = {}
    for r in approx.select("q_id", "vec_id").collect():
        approx_sets.setdefault(r["q_id"], set()).add(r["vec_id"])

    for qid, truth in exact_sets.items():
        got = approx_sets.get(qid, set())
        recall = len(got & truth) / len(truth)
        # nprobe=3 of 8 cells on weakly-clustered data: expect decent recall
        assert recall >= 0.4, f"q{qid}: recall {recall} ({got} vs {truth})"


def test_ivf_probes_subset_of_data(spark):
    """ANN must examine strictly fewer candidates than brute force."""
    e = load_table(spark, SF_DIR, "embeddings").cache()
    n = e.count()
    indexed, cents = build_ivf_index(e, n_cells=8, max_iter=3)
    q = _queries(e)
    probed = ivf_topk(indexed, cents, q, k=n, nprobe=3)  # k=n: keep all probed
    per_q = probed.groupBy("q_id").count().collect()
    for r in per_q:
        assert r["count"] < n, "probe should prune candidates"


def test_minhash_candidates_include_exact_dupes(spark):
    """Exact duplicate texts always collide on every band -> every
    exact-dup pair must be an LSH candidate with est_jaccard == 1."""
    base = load_table(spark, SF_DIR, "documents").where(F.col("doc_id") < 50)
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source",
        "n_chars",
    )
    d = base.unionAll(clones)
    expected = {(i, i + 100000) for i in range(50)}

    res = minhash_lsh_pairs(d)
    try:
        got = {
            (r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in res.pairs.collect()
        }
    finally:
        for dep in res.deps:
            dep.unpersist()
    for pair in expected:
        assert pair in got, f"exact dup {pair} missed by LSH"
        assert got[pair] == 1.0


def test_ivf_index_persists_and_prunes(spark, tmp_path):
    """Persisted IVF index: reading one cell back prunes partitions."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        build_ivf_index,
    )
    from kmeans_with_mapreduce_cuda_spark.sources.writers import (
        write_partitioned_parquet,
    )

    e = load_table(spark, SF_DIR, "embeddings")
    indexed, _ = build_ivf_index(e, n_cells=4, max_iter=2)
    out = str(tmp_path / "ivf")
    write_partitioned_parquet(indexed, out, ["cell_id"])

    back = spark.read.parquet(out)
    assert back.count() == e.count()
    cell = back.where(F.col("cell_id") == 2)
    plan = cell._sc._jvm.PythonSQLUtils.explainString(
        cell._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell_id" in pf[0]


def test_lsh_pairs_bucket_and_threshold_contract(spark):
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        LSH_COS_THRESHOLD,
        hyperplanes_pm1,
        lsh_bucket_pairs,
    )

    # deterministic hyperplanes: same seed -> same planes, ±1 only
    p1 = hyperplanes_pm1(dim=8, n_planes=3, seed=7)
    p2 = hyperplanes_pm1(dim=8, n_planes=3, seed=7)
    assert p1 == p2
    assert all(v in (-1, 1) for row in p1 for v in row)
    assert p1 != hyperplanes_pm1(dim=8, n_planes=3, seed=8)

    e = load_table(spark, SF_DIR, "embeddings")
    pairs = lsh_bucket_pairs(e, n_planes=4, seed=42).collect()
    for r in pairs:
        assert r["vec_a"] < r["vec_b"]
        assert r["cos_sim"] >= LSH_COS_THRESHOLD
        assert 0 <= r["bucket"] < 16


def test_int8_quantization_roundtrip_and_recall(spark):
    """Int8 embedding quantization (the 4x memory/IO lever for vector
    search at corpus scale): codes must stay in [-127, 127] with at
    least one component at full scale per non-zero vector, dequantized
    values must sit within half a rounding step of the original, and
    int8-cosine top-10 must overlap float-cosine top-10 >= 80% on real
    embeddings."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        brute_force_topk,
        int8_cosine,
        quantize_embeddings_int8,
    )

    e = load_table(spark, SF_DIR, "embeddings").limit(500)
    q = quantize_embeddings_int8(e)
    joined = e.join(q, "vec_id").select("vec_id", "embedding", "q_code", "q_scale")

    rows = joined.collect()
    assert len(rows) == 500
    for r in rows:
        codes, scale, emb = r["q_code"], r["q_scale"], r["embedding"]
        assert all(-127 <= c <= 127 for c in codes)
        if scale > 0:
            assert max(abs(c) for c in codes) == 127  # full-scale hit
            for c, v in zip(codes, emb):
                assert abs(c * scale - v) <= scale * 0.5 + 1e-6

    # recall: int8 cosine top-10 vs exact float top-10 for 5 queries
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = brute_force_topk(
        e.select("vec_id", F.col("embedding").alias("emb")), queries, k=10
    )
    exact_ids = {
        (r["q_id"], r["vec_id"]) for r in exact.collect()
    }

    qq = quantize_embeddings_int8(queries, features="q_emb", id_col="q_id")
    from pyspark.sql.window import Window

    cand = q.crossJoin(
        F.broadcast(
            qq.select(
                F.col("q_id"),
                F.col("q_code").alias("qq_code"),
            )
        )
    ).where(F.col("q_id") != F.col("vec_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("vec_id"))
    approx = (
        cand.withColumn("_sim", int8_cosine("q_code", "qq_code"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )
    approx_ids = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    overlap = len(exact_ids & approx_ids) / len(exact_ids)
    assert overlap >= 0.8, overlap


def test_cross_corpus_pairs_semantics(spark):
    """minhash_cross_pairs: a delta doc that verbatim-duplicates a
    reference doc must surface with est_jaccard 1.0; delta docs must
    never pair with each other (even when identical); a delta doc with
    no near-dup in the reference yields nothing."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        minhash_cross_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about spark physical plans here"
    ref = spark.createDataFrame(
        [(1, base), (2, other)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(10, base), (11, base), (12, "unrelated words nothing shared xyzzy plugh")],
        ["doc_id", "text"],
    )
    res = minhash_cross_pairs(new, ref)
    try:
        rows = {(r.new_doc, r.ref_doc): r.est_jaccard for r in res.pairs.collect()}
    finally:
        for dep in res.deps:
            dep.unpersist()
    assert rows[(10, 1)] == 1.0
    assert rows[(11, 1)] == 1.0
    # asymmetric: only new x ref, no new x new, no self-pairs
    assert all(n >= 10 and r < 10 for n, r in rows)
    assert not any(n == 12 for n, _ in rows)


def test_pq_encode_reconstructs_codebook_vectors_exactly(spark):
    """A codebook seed vector's subspace slice IS a code, so encoding it
    must pick a code at distance exactly 0 in every subspace -- the
    quantization-error floor.  (With duplicate seeds the tie-break
    picks the lower id, still at distance 0.)"""
    import numpy as np

    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    e = load_table(spark, SF_DIR, "embeddings")
    cb = pq_codebooks(e)
    rows = (
        pq_encode(e.where(F.col("vec_id") < 16), cb)
        .select("vec_id", "embedding", *[f"code_{s}" for s in range(8)])
        .collect()
    )
    assert len(rows) == 16
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        for s in range(8):
            code = cb[s][r[f"code_{s}"]]
            seg = v[s * 8 : (s + 1) * 8]
            assert np.array_equal(seg, np.asarray(code)), (r["vec_id"], s)


def test_pq_adc_matches_numpy_twin_and_bounds_error(spark):
    """ADC distance must equal the NumPy-computed distance between the
    query and each row's RECONSTRUCTED vector (definitional identity,
    up to summation-order ulps), and the true distance is approximated
    within the total quantization error (triangle-ish sanity: ADC of
    the query's own row is <= its distance to the worst codebook
    reconstruction)."""
    import numpy as np

    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    e = load_table(spark, SF_DIR, "embeddings")
    cb = pq_codebooks(e)
    q_vec = [
        float(v)
        for v in e.where(F.col("vec_id") == 123).collect()[0]["embedding"]
    ]
    enc = pq_encode(e.where(F.col("vec_id") < 200), cb)
    got = pq_adc_topk(enc, cb, q_vec, k_results=200).collect()
    assert len(got) == 200
    codes = {
        r["vec_id"]: [
            (r["code_packed"] // (16 ** s)) % 16 for s in range(8)
        ]
        for r in got
    }
    q = np.asarray(q_vec)
    for r in got:
        recon = np.concatenate(
            [np.asarray(cb[s][codes[r["vec_id"]][s]]) for s in range(8)]
        )
        expect = float(((q - recon) ** 2).sum())
        assert abs(r["adc_dist"] - expect) <= 1e-9 * max(1.0, expect), r
    # the ranking is by ADC: returned rows are sorted ascending
    dists = [r["adc_dist"] for r in got]
    assert dists == sorted(dists)


def test_matryoshka_exact_when_prefix_is_faithful(spark):
    """When the coarse prefix preserves the neighborhood (here: full
    vector = prefix repeated), two-stage retrieval must equal exact
    brute-force top-k -- verified against a NumPy twin."""
    import numpy as np

    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        matryoshka_topk,
    )

    rng = np.random.RandomState(7)
    base = rng.rand(200, 8).astype("float32")
    vecs = np.tile(base, 8)  # 64-dim, prefix-faithful by construction
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[13]]

    got = matryoshka_topk(emb, q, coarse_dims=8, k_coarse=20, k_final=5)
    got_ids = [r["vec_id"] for r in got.collect()]

    d = ((vecs.astype("float64") - np.array(q)) ** 2).sum(axis=1)
    want_ids = [int(i) for i in np.lexsort((np.arange(len(d)), d))[:5]]
    assert got_ids == want_ids
    assert got_ids[0] == 13  # the query itself at distance 0


def test_matryoshka_plan_is_heap_based_no_join(spark):
    """Both stages must plan as TakeOrderedAndProject (mergeable
    heaps); no join, no global Sort node."""
    import numpy as np

    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        matryoshka_topk,
    )

    rng = np.random.RandomState(3)
    vecs = rng.rand(50, 64).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = matryoshka_topk(emb, [float(x) for x in vecs[0]])
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # tree lines render as "TakeOrderedAndProject (n)"; detail headers
    # repeat the name without the paren suffix
    assert plan.count("TakeOrderedAndProject (") == 2, plan
    assert "Join" not in plan, plan


def test_lsh_bucket_count_grows_with_planes(spark):
    """VERDICT r5 item 4: plane count is the scale dial -- 2^planes
    buckets -- so the DISTINCT bucket count over a fixed corpus must be
    monotone non-decreasing in n_planes (each added plane splits every
    bucket by one more sign bit; it can only refine the partition)."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        hyperplanes_pm1,
        lsh_bucket_sql,
    )

    e = (
        load_table(spark, SF_DIR, "embeddings")
        .select(F.col("embedding").cast("array<double>").alias("_emb"))
        .cache()
    )
    dim = e.select(F.size("_emb").alias("d")).first()["d"]
    counts = []
    try:
        for n_planes in (1, 2, 4, 6, 8):
            planes = hyperplanes_pm1(dim=dim, n_planes=n_planes, seed=42)
            n = (
                e.withColumn(
                    "bucket",
                    F.expr(lsh_bucket_sql("_emb", planes, one_based=False)),
                )
                .agg(F.countDistinct("bucket").alias("n"))
                .first()["n"]
            )
            assert n <= 2**n_planes
            counts.append(n)
    finally:
        e.unpersist()
    assert counts == sorted(counts), counts
    assert counts[-1] > counts[0], counts  # genuinely refines on real data


def test_within_cell_pairs_cap_returns_capped_cells_as_data(spark):
    """The SemDeDup join's skew guard: an adversarial cell (41 identical
    vectors) is excluded by max_cell and REPORTED in capped_cells with
    its cardinality, while a small cell's near-parallel pair still
    emerges; uncapped, the hot cell contributes quadratic pairs."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        within_cell_cosine_pairs,
    )

    dim = 4
    rows = [(i, [1.0, 0.0, 0.0, 0.0], 1.0, 0) for i in range(41)]
    rows += [
        (500, [0.0, 1.0, 0.0, 0.0], 1.0, 1),
        (501, [0.0, 0.9, 0.1, 0.0], (0.9**2 + 0.1**2) ** 0.5, 1),
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id bigint, emb array<double>, nrm double, cell_id int"
    )

    pairs, capped = within_cell_cosine_pairs(
        assigned, dim=dim, threshold=0.35, max_cell=10
    )
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    assert got == {(500, 501)}
    cap_rows = capped.collect()
    assert [(r["cell_id"], r["n"]) for r in cap_rows] == [(0, 41)]

    un_pairs, un_capped = within_cell_cosine_pairs(
        assigned, dim=dim, threshold=0.35, max_cell=None
    )
    assert un_pairs.count() == 41 * 40 // 2 + 1
    assert un_capped.count() == 0


@pytest.mark.parametrize("id_type", ["string", "bigint"])
def test_within_cell_pairs_singleton_cell_keeps_id_type(spark, id_type):
    """A singleton cell's empty kernel output carries the input id
    type: string ids used to come back as int64 and fail the Arrow
    conversion.  Only the pairing cell's pair is returned."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        within_cell_cosine_pairs,
    )

    vid = str if id_type == "string" else int
    rows = [
        (vid(7), [1.0, 0.0, 0.0, 0.0], 1.0, 0),
        (vid(500), [0.0, 1.0, 0.0, 0.0], 1.0, 1),
        (vid(501), [0.0, 0.9, 0.1, 0.0], (0.9**2 + 0.1**2) ** 0.5, 1),
    ]
    assigned = spark.createDataFrame(
        rows, f"vec_id {id_type}, emb array<double>, nrm double, cell_id int"
    )
    pairs, _ = within_cell_cosine_pairs(
        assigned, dim=4, threshold=0.35, max_cell=None
    )
    assert [(r["vec_a"], r["vec_b"]) for r in pairs.collect()] == [
        (vid(500), vid(501))
    ]


def test_within_cell_pairs_matches_sql_join(spark):
    """The grouped-map pandas kernel (r11) must reproduce the r10 SQL
    self-join formulation BIT-EXACTLY on the fixture: same pair set,
    same rounded cos_sim doubles.  This is the regression guard for the
    kernel's left-associated accumulation order (dot_product_sql) and
    JVM-side rounding."""
    from kmeans_with_mapreduce_cuda_spark.functions.distance import (
        dot_product_sql,
    )
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        within_cell_cosine_pairs,
    )
    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _semantic_dedup_build,
    )

    out, _, assigned = _semantic_dedup_build(spark, SF_DIR)
    try:
        got = sorted(map(tuple, out.collect()))
        a = assigned.select(
            F.col("vec_id").alias("vec_a"),
            F.col("emb").alias("emb_a"),
            F.col("nrm").alias("nrm_a"),
            "cell_id",
        )
        b = assigned.select(
            F.col("vec_id").alias("vec_b"),
            F.col("emb").alias("emb_b"),
            F.col("nrm").alias("nrm_b"),
            "cell_id",
        )
        sim = F.expr(dot_product_sql("emb_a", "emb_b", 64)) / (
            F.col("nrm_a") * F.col("nrm_b")
        )
        want = sorted(
            map(
                tuple,
                a.join(b, "cell_id")
                .where((F.col("vec_a") < F.col("vec_b")) & (sim >= 0.35))
                .select("vec_a", "vec_b", F.round(sim, 6).alias("cos_sim"))
                .collect(),
            )
        )
    finally:
        assigned.unpersist()
    assert got == want


def test_within_cell_pairs_block_boundary(spark):
    """The kernel's O(block^2) G accumulation must agree with the
    single-block path across block edges: force _PAIR_BLOCK below the
    cell size and compare."""
    import kmeans_with_mapreduce_cuda_spark.operators.similarity as S

    rows = [
        (i, [float((i * 7 + j * 3) % 5) / 5 for j in range(4)], None, 0)
        for i in range(50)
    ]
    rows = [
        (i, v, sum(x * x for x in v) ** 0.5, c)
        for (i, v, _, c) in rows
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id bigint, emb array<double>, nrm double, cell_id int"
    )
    pairs_full, _ = S.within_cell_cosine_pairs(
        assigned, dim=4, threshold=0.35, max_cell=None
    )
    want = sorted(map(tuple, pairs_full.collect()))
    old = S._PAIR_BLOCK
    S._PAIR_BLOCK = 7  # forces many ragged blocks incl. diagonal splits
    try:
        pairs_blk, _ = S.within_cell_cosine_pairs(
            assigned, dim=4, threshold=0.35, max_cell=None
        )
        got = sorted(map(tuple, pairs_blk.collect()))
    finally:
        S._PAIR_BLOCK = old
    assert got == want and len(want) > 100


def test_range_search_consistent_with_topk(spark):
    """brute_force_range(t) and brute_force_topk must tell one story:
    every top-k hit scoring >= t is in the range result, every range
    hit scores >= t, and shared (q, neighbor) pairs carry the same
    similarity -- the radius and heap cuts differ only in WHICH rows
    they keep, never in scores."""
    from pyspark.sql import functions as F

    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        brute_force_range,
        brute_force_topk,
    )
    from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table

    from conftest import SF_DIR

    t = 0.25
    e = load_table(spark, SF_DIR, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    cand = e.select("vec_id", emb.alias("emb"))
    q = cand.where(F.col("vec_id").isin(0, 7, 42)).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    rng = {
        (r["q_id"], r["vec_id"]): r["_sim"]
        for r in brute_force_range(cand, q, threshold=t).collect()
    }
    top = {
        (r["q_id"], r["vec_id"]): r["_sim"]
        for r in brute_force_topk(cand, q, k=10).collect()
    }
    assert rng, "fixture must populate the radius at t=0.25"
    assert all(s >= t for s in rng.values())
    for key, s in top.items():
        if s >= t:
            assert key in rng and rng[key] == s, key

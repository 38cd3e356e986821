"""End-to-end composition of the dataset-assembly operators: a user
chains clean -> split -> pack as ONE declarative plan.  The individual
pipe_* gate queries verify each stage against DuckDB; this verifies the
stages actually COMPOSE (schemas line up, determinism survives
chaining, invariants hold on the composed output)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kmeans_with_mapreduce_cuda_spark.functions.hashing import md5_long
from kmeans_with_mapreduce_cuda_spark.functions.text import tokens
from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

from conftest import SF_DIR

BUDGET = 512


def test_clean_split_pack_composes_as_one_plan(spark):
    survivors = REGISTRY["pipe_corpus_clean"].fn(spark, SF_DIR)
    # split assignment: same md5 rule as pipe_train_val_test
    h = md5_long("doc_id", "mix42:") % 100
    split = F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    with_split = survivors.select(
        "doc_id", "n_tokens", split.alias("split")
    )
    # greedy packing per split: running token sum // budget = pack id
    w = (
        Window.partitionBy("split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = with_split.withColumn(
        "pack_id", ((F.sum("n_tokens").over(w) - 1) / BUDGET).cast("bigint")
    )
    rows = packed.collect()
    assert rows

    # splits partition the survivor set exactly
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    assert len(rows) == survivors.count()

    # packing invariant: within each (split, pack), doc order is by id
    # and the pack's token total stays within budget + one doc overhang
    from collections import defaultdict

    packs = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["split"], r["doc_id"])):
        packs[(r["split"], r["pack_id"])].append(r)
    for (s, pid), docs in packs.items():
        total = sum(d["n_tokens"] for d in docs)
        assert total <= BUDGET + max(d["n_tokens"] for d in docs), (s, pid)

    # token conservation: nothing lost or duplicated by the chain
    assert sum(r["n_tokens"] for r in rows) == (
        survivors.agg(F.sum("n_tokens")).collect()[0][0]
    )

    # determinism: re-running the composed plan is bit-identical
    again = packed.collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_connected_components_resolves_chains_and_islands(spark):
    """Label propagation must find the transitive closure, not just
    direct neighbors: a 6-node path (worst diameter per edge count),
    a triangle (the quasi-clique LSH shape), and an isolated pair."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # path 1-2-3-4-5-6, triangle 10-11-12, island 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "doc_a bigint, doc_b bigint",
    )
    res = connected_components(edges)
    try:
        got = {r["node"]: r["comp"] for r in res.labels.collect()}
    finally:
        for dep in res.deps:
            dep.unpersist()
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_local_matches_distributed(spark):
    """The driver union-find (r11, used by the collect-bounded gate
    sites) must compute the SAME fixpoint as the distributed operator:
    min reachable node id per component.  Checked on the handcrafted
    shapes plus a seeded random graph, against both the distributed
    result and a brute-force BFS closure."""
    import random

    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        connected_components,
        connected_components_local,
    )

    handmade = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
                (10, 11), (11, 12), (10, 12), (20, 21)]
    rng = random.Random(42)
    rand = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    for pairs in (handmade, rand, [], [(7, 7)]):
        got = connected_components_local(pairs)
        # brute-force closure
        adj: dict = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for start in adj:
            seen, todo = {start}, [start]
            while todo:
                x = todo.pop()
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        todo.append(y)
            want[start] = min(seen)
        assert got == want
        if pairs:
            edges = spark.createDataFrame(
                pairs, "doc_a bigint, doc_b bigint"
            )
            res = connected_components(edges)
            try:
                dist = {
                    r["node"]: r["comp"] for r in res.labels.collect()
                }
            finally:
                for dep in res.deps:
                    dep.unpersist()
            assert got == dist


def test_connected_components_string_ids(spark):
    """Node ids are not required to be numeric: string keys (urls,
    content hashes) must converge via the type-agnostic moved-label
    check.  The sum-mass fixpoint path only applies to integral ids --
    under ANSI mode a string->decimal cast would throw, and with ANSI
    off it would yield NULL masses that compare equal after round 1
    and silently stop propagation early (review finding, round 5).
    The 4-node path needs >1 round, so an early stop is detected."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # path a-b-c-d (diameter 3: >1 round), island x-y
        [("b", "c"), ("a", "b"), ("c", "d"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    res = connected_components(edges)
    try:
        got = {r["node"]: r["comp"] for r in res.labels.collect()}
    finally:
        for dep in res.deps:
            dep.unpersist()
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "x": "x", "y": "x"}


def test_connected_components_max_iter_bounds_rounds(spark):
    """max_iter is a hard bound on LOOP rounds (the seeded init counts
    as the free first propagation round -- operator docstring): a
    6-node path has diameter 5, and init + one jump loop round covers
    label depth at most 2, so max_iter=1 must stop early (node 6 not
    yet labeled 1) without erroring."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)],
        "doc_a bigint, doc_b bigint",
    )
    res = connected_components(edges, max_iter=1)
    try:
        got = {r["node"]: r["comp"] for r in res.labels.collect()}
    finally:
        for dep in res.deps:
            dep.unpersist()
    # init seeds 6 -> 5; one loop round reaches depth 2 (6 -> 4), not
    # the component min -- the bound stopped the loop mid-propagation
    assert got[1] == 1 and got[6] == 4 and got[6] != 1


def test_connected_components_matches_union_find_property(spark):
    """Property test: on random small graphs, label propagation's
    fixpoint must equal a driver-side union-find's components."""
    from hypothesis import given, settings, strategies as st

    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        connected_components,
    )

    def union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min node id in the component
        return {n: find(n) for n in parent}

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=30),
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=25,
        )
    )
    def check(edge_list):
        df = spark.createDataFrame(edge_list, "doc_a bigint, doc_b bigint")
        res = connected_components(df)
        try:
            got = {r["node"]: r["comp"] for r in res.labels.collect()}
        finally:
            for dep in res.deps:
                dep.unpersist()
        # find() resolves to the root, and union-by-min makes every root
        # the component minimum, so exp maps node -> component min.
        exp = union_find(edge_list)
        assert got == exp

    check()


def test_incremental_dedup_cross_batch_semantics(spark):
    """A delta doc duplicating a BASE doc is dropped; delta-internal
    duplicates keep the min id; novel content survives."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        incremental_dedup_keep,
    )

    base = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, text string"
    )
    delta = spark.createDataFrame(
        [(10, "alpha"),      # dup of base -> dropped
         (11, "gamma"),      # novel -> kept
         (12, "delta"),      # novel, duplicated within delta
         (13, "delta"),      # -> only 12 kept
         ],
        "doc_id bigint, text string",
    )
    got = sorted(
        r["doc_id"] for r in incremental_dedup_keep(base, delta).collect()
    )
    assert got == [11, 12]


def test_pointer_jumping_converges_logarithmically(spark):
    """A 64-node path needs 63 plain-propagation rounds; with the
    seeded init (depth 1) pointer jumping doubles the covered depth
    each round (1 -> 2 -> 4 -> ... -> 64 after 6 loop rounds), so 8
    rounds must reach the fixpoint (the adversarial-chain defense the
    jump join buys on id-monotone chains)."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a bigint, doc_b bigint"
    )

    res = connected_components(edges, max_iter=8)
    try:
        got = {r["node"]: r["comp"] for r in res.labels.collect()}
    finally:
        for dep in res.deps:
            dep.unpersist()
    assert got == {i: 0 for i in range(64)}


def test_connected_components_releases_checkpoint_blocks(spark):
    """Intermediate rounds are freed inside the loop and the deps
    handle frees the final round: after release, the session holds no
    more cached RDDs than before the run."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        connected_components,
    )

    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a bigint, doc_b bigint"
    )
    res = connected_components(edges)
    res.labels.collect()
    for dep in res.deps:
        dep.unpersist()
    after = len(sc._jsc.sc().getRDDStorageInfo())
    assert after == before, (before, after)


def test_curation_stages_compose_and_agree(spark):
    """The curation queries must agree when joined per doc: the
    classifier, boilerplate strip, and PII scrub all tokenize the same
    way, so their per-doc token accounting is mutually consistent --
    and the composed keep-filter chain stays one declarative plan."""
    cls = REGISTRY["pipe_quality_classifier"].fn(spark, SF_DIR)
    boiler = REGISTRY["text_boilerplate_strip"].fn(spark, SF_DIR)
    pii = REGISTRY["text_pii_scrub"].fn(spark, SF_DIR)

    joined = (
        cls.join(boiler, "doc_id")
        .join(pii.select("doc_id", "scrubbed_md5"), "doc_id")
    )
    rows = joined.collect()
    assert len(rows) == cls.count() == boiler.count()

    for r in rows:
        removed = r["n_tokens"] - r["n_tokens_kept"]
        # every chunk holds 1..8 tokens, so the stripped-token count is
        # bracketed by the boilerplate chunk count
        assert r["n_boiler_chunks"] <= removed <= 8 * r["n_boiler_chunks"], r
        # chunking covers the doc exactly: ceil(n_tokens / 8) chunks
        assert r["n_chunks"] == -(-r["n_tokens"] // 8), r

    # the keep-filter selects a proper, deterministic subset
    kept = joined.where(F.col("keep")).collect()
    assert 0 < len(kept) < len(rows)
    again = joined.where(F.col("keep")).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, kept))


def test_cdc_chunks_dedup_and_insertion_robustness(spark):
    """Content-defined chunking: identical docs are 100% duplicated
    passages; a single word inserted at the FRONT of a copy perturbs
    only the chunk it lands in (boundaries re-sync at the next
    content-defined boundary), unlike fixed-width windows where every
    downstream passage would shift and nothing past the edit would
    match."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        cdc_chunk_stats,
    )

    base_words = [f"w{(7 * i + 3) % 23}x{i % 5}" for i in range(60)]
    base = " ".join(base_words)
    inserted = " ".join(["zzznovel"] + base_words)
    unique = " ".join(f"only{i}q" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, unique), (4, inserted)],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in cdc_chunk_stats(docs).collect()
    }
    # identical pair: every chunk duplicated, ratio exactly 1.0
    assert rows[1]["dup_chunks"] == rows[1]["n_chunks"]
    assert rows[2]["dup_ratio"] == 1.0
    # unique doc: nothing duplicated
    assert rows[3]["dup_chunks"] == 0 and rows[3]["dup_ratio"] == 0.0
    # insertion robustness: all but the edited leading chunk still match
    r4 = rows[4]
    assert r4["n_chunks"] >= 4  # the fixture is long enough to chunk
    assert r4["dup_chunks"] >= r4["n_chunks"] - 2


def test_semantic_routing_chain_catches_injected_clone_pile(spark):
    """The full SemDeDup routing chain on a corpus BUILT to need it: one
    cell holds ~200 of 243 vectors including 60 exact clones.  The
    recursive pass must (a) sub-assign every hot member exactly once,
    (b) route the clone pile's sub-cell out as capped_subcell (60 > the
    ~50 sub-cap), and (c) the residual exact-dedup report must then
    expose the pile: max_clone_group == 60 on a LINEAR pass -- the
    unit-scale replay of why the chain ends in exact dedup."""
    import tempfile

    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _semantic_recursive_build,
        dedup_semantic_residual_exact,
        dedup_semantic_survivors,
    )

    def vec(hot, bump=0.0, jit=0):
        v = [0.0] * 64
        v[hot] = 10.0
        v[(hot + 1) % 64] = bump + jit * 0.001
        return v

    rows = []
    # vec_id 0..7: the centroid seeds, one per cell
    for j in range(8):
        rows.append((j, vec(j)))
    nid = 8
    # 60 exact clones near centroid 0
    for _ in range(60):
        rows.append((nid, vec(0, bump=0.5)))
        nid += 1
    # 140 jittered singles near centroid 0 -> cell 0 is hot (~201 of
    # 243 >> cap 243//8 = 30); sub-cap = 201//4 = 50 < 60 clones
    for i in range(140):
        rows.append((nid, vec(0, bump=2.0, jit=i + 1)))
        nid += 1
    # ~5 singles per other cell: all kept at top level
    for j in range(1, 8):
        for i in range(5):
            rows.append((nid, vec(j, bump=1.0, jit=i)))
            nid += 1

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )
    with tempfile.TemporaryDirectory() as d:
        df.repartition(4).write.parquet(f"{d}/embeddings.parquet")
        with _semantic_recursive_build(
            spark, d, "dedup_semantic_recursive"
        ) as (out, parts):
            kinds = {
                r["kind"]: r["cnt"]
                for r in out.groupBy("kind")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
            n_hot = parts["subassigned"].count()
            n_sub_rows = (
                parts["subassigned"].select("vec_id").distinct().count()
            )
            capped = parts["capped_sub"].collect()
        report = {
            r["blk"]: r
            for r in dedup_semantic_residual_exact(spark, d).collect()
        }
        survivors = {
            r["vec_id"] for r in dedup_semantic_survivors(spark, d).collect()
        }

    # (a) every hot member sub-assigned exactly once
    assert n_hot == n_sub_rows and n_hot >= 200
    # (b) the clone sub-cell routed out as residual
    assert kinds.get("capped_subcell", 0) >= 1
    assert any(r["n"] >= 60 for r in capped)
    # (c) exact dedup exposes the pile, linearly
    assert max(r["max_clone_group"] for r in report.values()) == 60
    pile = max(report.values(), key=lambda r: r["max_clone_group"])
    assert pile["n_dupes"] >= 59
    assert pile["n_members"] - pile["n_distinct"] == pile["n_dupes"]
    # (d) the DELETE step: exactly ONE of the 60 clones survives -- the
    # lowest id -- even though the clone pile never entered the cosine
    # join (its edges come from the residual exact pass)
    clone_ids = set(range(8, 68))
    assert survivors & clone_ids == {8}
    assert len(survivors) <= 243 - 59


def test_user_erasure_deletes_fully_owned_partitions(spark, tmp_path):
    """pipe_user_erasure must erase a day whose rows ALL belong to the
    erased user: dynamic partition overwrite only rewrites partitions
    present in the written data, so an empty replacement would leave
    the old files intact (review finding) -- the query deletes those
    days explicitly.  Day layout: day 0 only user 7, day 1 mixed,
    day 2 user-7-free."""
    import datetime as dt

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    def ts(day, i):
        return dt.datetime(2024, 1, 1 + day, 0, 0, i)

    rows = (
        [(100 + i, ts(0, i), 7, "click", 1.0, "{}") for i in range(5)]
        + [(200 + i, ts(1, i), 7 if i % 2 else 8, "view", 2.0, "{}")
           for i in range(6)]
        + [(300 + i, ts(2, i), 9, "buy", 3.0, "{}") for i in range(4)]
    )
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r["epoch_day"]: (r["n"], r["untouched_partitions_intact"])
        for r in REGISTRY["pipe_user_erasure"].fn(spark, str(tmp_path)).collect()
    }
    days = sorted(out)
    assert len(days) == 2, out          # day 0 fully erased
    assert out[days[0]][0] == 3         # day 1 keeps only user 8 rows
    assert out[days[1]][0] == 4         # day 2 untouched
    assert all(v[1] for v in out.values())


def test_intradoc_dedup_removes_exact_repeated_spans(spark, tmp_path):
    """text_intradoc_dedup's removal rule on a hand-computable doc:
    'a b c a b d' repeats bigram 'a b' at position 4, so tokens 4-5
    are removed and the cleaned text is 'a b c d'; a repetition-free
    doc loses nothing (n_removed 0, never NULL)."""
    import hashlib

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    df = spark.createDataFrame(
        [(1, "a b c a b d", "en", "s", 11), (2, "x y z", "en", "s", 5)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in REGISTRY["text_intradoc_dedup"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1]["n_tokens"] == 6 and out[1]["n_removed"] == 2
    assert out[1]["cleaned_md5"] == hashlib.md5(b"a b c d").hexdigest()
    assert out[2]["n_tokens"] == 3 and out[2]["n_removed"] == 0
    assert out[2]["cleaned_md5"] == hashlib.md5(b"x y z").hexdigest()


def test_user_erasure_of_entire_corpus_returns_empty(spark, tmp_path):
    """When the erased user owns EVERY row, every partition is deleted
    and a parquet read of the file-less table root would raise
    UNABLE_TO_INFER_SCHEMA -- the query must return the typed empty
    relation the oracle produces (second review pass)."""
    import datetime as dt

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    rows = [
        (i, dt.datetime(2024, 2, 1 + i % 3, 0, 0, i), 7, "click", 1.0, "{}")
        for i in range(9)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = REGISTRY["pipe_user_erasure"].fn(spark, str(tmp_path))
    assert out.count() == 0
    assert out.columns == [
        "epoch_day", "n", "n_users", "untouched_partitions_intact",
    ]


def test_semantic_recursive_null_embedding_is_not_a_capped_subcell(
    spark, monkeypatch
):
    """A hot-cell member with a NULL embedding has NULL sub-cell
    distances, so its sub_id and blk are NULL.  Such rows must be
    dropped from the capped-sub-cell list (the old join-based plan
    never matched them) rather than reach the driver-side sort, where
    a NULL blk next to an integer one raised TypeError."""
    import kmeans_with_mapreduce_cuda_spark.plans.pipeline as pipeline

    def unit(j):
        v = [0.0] * 64
        v[j] = 1.0
        return v

    # cell 0 holds 9 members, so its sub-cap is 9 // 4 = 2: vec 0-3
    # seed the 4 sub-cells, vec 4-5 clone seed 0 (sub-cell 0 holds 3),
    # and vec 6-8 have NULL embeddings (3 rows with a NULL blk)
    members = [(i, unit(i), 1.0) for i in range(4)]
    members += [(i, unit(0), 1.0) for i in (4, 5)]
    members += [(i, None, None) for i in (6, 7, 8)]
    assigned = spark.createDataFrame(
        [(i, emb, 0, nrm) for i, emb, nrm in members],
        "vec_id bigint, emb array<double>, cell_id int, nrm double",
    )
    capped = spark.createDataFrame([(0, 9)], "cell_id int, n bigint")
    pairs = spark.createDataFrame(
        [], "vec_a bigint, vec_b bigint, cos_sim double"
    )
    monkeypatch.setattr(
        pipeline,
        "_semantic_dedup_build",
        lambda *args, **kwargs: (pairs, capped, assigned),
    )

    out, deps, parts = pipeline._semantic_recursive_build_uncached(
        spark, "unused"
    )
    try:
        capped_sub = [tuple(r) for r in parts["capped_sub"].collect()]
        routed = [
            (r["vec_a"], r["vec_b"])
            for r in out.where(F.col("kind") == "capped_subcell").collect()
        ]
    finally:
        for dep in deps:
            dep.unpersist()
    assert capped_sub == [(0, 3)]
    assert routed == [(0, 3)]

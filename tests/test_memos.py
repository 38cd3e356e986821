"""Memo discipline (r10): the erasure query's pristine fixture
artifact, the SemDeDup build's idle-TTL release, and the tree-walking
fixture_cache_key signature."""

from __future__ import annotations

import os

from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY, pipeline
from kmeans_with_mapreduce_cuda_spark.sources.readers import (
    _FIXTURE_MEMO,
    fixture_cache_key,
    fixture_keyed_tmpdir,
    fixture_memo_drop,
)

from conftest import SF_DIR


def _tree_sig(root: str) -> dict:
    out = {}
    for r, _d, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(r, f))
            out[os.path.relpath(os.path.join(r, f), root)] = (
                st.st_mtime_ns,
                st.st_size,
            )
    return out


def test_erasure_pristine_table_memoized_across_invocations(spark):
    """Second pipe_user_erasure reuses the pristine partitioned write
    (VERDICT r9 item 5), a fixture_artifact: the artifact's files are
    byte-untouched and the results agree."""
    pristine = fixture_keyed_tmpdir(SF_DIR, "events", "kmrc_erasure")

    fn = REGISTRY["pipe_user_erasure"].fn
    first = {
        tuple(r) for r in fn(spark, SF_DIR).collect()
    }
    sig_before = _tree_sig(pristine)
    assert sig_before  # the pristine table really holds files

    second = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    assert second == first
    # no rewrite happened: every pristine file identical by mtime+size
    assert _tree_sig(pristine) == sig_before


def test_semantic_build_memo_released_after_idle_ttl(spark):
    """The SemDeDup build memo must not outlive the chain by more than
    _SEMANTIC_MEMO_TTL non-chain queries (r10 advice): a partial sweep
    that runs one consumer then moves on releases the corpus-scale
    persisted intermediates."""
    fixture_memo_drop(pipeline._SEMANTIC_SLOT)
    REGISTRY["dedup_semantic_recursive"].fn(spark, SF_DIR).collect()
    assert pipeline._SEMANTIC_SLOT in _FIXTURE_MEMO, "consumer should populate memo"

    cheap = REGISTRY["o03_distance_expr"].fn
    for i in range(pipeline._SEMANTIC_MEMO_TTL):
        assert pipeline._SEMANTIC_SLOT in _FIXTURE_MEMO, f"released too early (i={i})"
        cheap(spark, SF_DIR)
    assert pipeline._SEMANTIC_SLOT not in _FIXTURE_MEMO, "idle TTL should release"


def test_semantic_memo_tick_chain_query_resets_idle_age(spark):
    fixture_memo_drop(pipeline._SEMANTIC_SLOT)
    REGISTRY["dedup_semantic_recursive"].fn(spark, SF_DIR).collect()
    pipeline._semantic_memo_idle = pipeline._SEMANTIC_MEMO_TTL - 1
    pipeline._semantic_memo_tick("dedup_semantic_survivors")
    assert pipeline._semantic_memo_idle == 0
    assert pipeline._SEMANTIC_SLOT in _FIXTURE_MEMO
    fixture_memo_drop(pipeline._SEMANTIC_SLOT)


def test_semantic_chain_builds_once_then_releases(spark, monkeypatch):
    """The three chain queries share ONE stage-1+2 build across the
    REGISTRY spacing the gate produces (recursive, two other queries,
    residual_exact, survivors), and the build is released once the
    last of them has read it."""
    fixture_memo_drop(pipeline._SEMANTIC_SLOT)
    builds = []
    uncached = pipeline._semantic_recursive_build_uncached

    def counting(*args, **kwargs):
        builds.append(args)
        return uncached(*args, **kwargs)

    monkeypatch.setattr(
        pipeline, "_semantic_recursive_build_uncached", counting
    )
    for q in (
        "dedup_semantic_recursive",
        "o03_distance_expr",
        "o01_scan_limit",
        "dedup_semantic_residual_exact",
        "dedup_semantic_survivors",
    ):
        REGISTRY[q].fn(spark, SF_DIR).collect()
    assert len(builds) == 1
    assert pipeline._SEMANTIC_SLOT not in _FIXTURE_MEMO


def test_fixture_cache_key_sees_nested_in_place_rewrite(spark, tmp_path):
    """A part file rewritten in place inside a NESTED partition dir must
    change the signature (r10 advice: the one-level listdir missed it)."""
    tbl = tmp_path / "t.parquet"
    part = tbl / "day=1"
    part.mkdir(parents=True)
    f = part / "part-00000.parquet"
    f.write_bytes(b"aaaa")
    os.utime(f, ns=(1_000_000_000, 1_000_000_000))

    k1 = fixture_cache_key(spark, str(tmp_path), "t")
    assert k1 is not None

    # rewrite in place: same name, new mtime -- parent dirs untouched
    f.write_bytes(b"bbbb")
    os.utime(f, ns=(2_000_000_000, 2_000_000_000))
    k2 = fixture_cache_key(spark, str(tmp_path), "t")
    assert k2 != k1

    # same mtime, different SIZE (the st_size half of the signature)
    f.write_bytes(b"cccccc")
    os.utime(f, ns=(2_000_000_000, 2_000_000_000))
    k3 = fixture_cache_key(spark, str(tmp_path), "t")
    assert k3 != k2

    # missing table -> None (uncacheable), never a crash
    assert fixture_cache_key(spark, str(tmp_path), "absent") is None


def test_user_erasure_pre_1970_day_boundaries_match_oracle(spark, tmp_path):
    """The epoch_day bucketing must agree across engines for NEGATIVE
    epochs (r10 advice + review: Spark `div` and DuckDB integer `//`
    both truncate toward zero, so the fix is the identical
    floor-of-double-ratio expression on BOTH sides).  Rows straddle
    the -1/0 day boundary exactly."""
    import duckdb
    from pyspark.sql import functions as F

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    day_us = 86_400_000_000
    rows = [
        # erased user 7 on both sides of the epoch
        (7, -1, 1), (7, -day_us, 2), (7, day_us, 3),
        # survivor straddling the boundary: -1 us is day -1, 0 is day 0
        (3, -1, 4), (3, -day_us - 1, 5), (3, 0, 6), (3, 1, 7),
        (4, -2 * day_us, 8), (4, day_us - 1, 9),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, us long, event_id long"
    ).select("user_id", F.timestamp_micros("us").alias("ts"), "event_id")
    df.write.parquet(str(tmp_path / "events.parquet"))

    q = REGISTRY["pipe_user_erasure"]
    got = q.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    exp = con.execute(q.oracle).fetchdf()
    con.close()

    g = {
        (r.epoch_day, r.n, r.n_users, r.untouched_partitions_intact)
        for r in got.itertuples()
    }
    e = {
        (r.epoch_day, r.n, r.n_users, bool(r.untouched_partitions_intact))
        for r in exp.itertuples()
    }
    assert g == e
    # the pre-1970 microsecond really lands in day -1 (floor), in BOTH
    assert any(d == -1 for d, *_ in g)

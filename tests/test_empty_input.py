"""Empty-input robustness: every representative query family must
return an empty result with the right schema on zero-row tables --
not throw.  A 100 TB pipeline routinely hits empty partitions, empty
date slices, and freshly-created tables.
"""

from __future__ import annotations

import pytest

from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY
from kmeans_with_mapreduce_cuda_spark.sources.readers import TABLES, load_table

from conftest import SF_DIR

#: one query per family; all should tolerate empty input
QUERIES = [
    "rel_filter_agg",
    "rel_join_shuffle",
    "rel_window_topk",
    "rel_grouping_sets",
    "dedup_exact_keep",
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_survivors",
    "dedup_incremental",
    "text_token_stats",
    "text_repetition_ratio",
    "text_contamination",
    "rel_salted_join",
    "rel_resample",
    "sim_int8_topk",
    "stream_dedup",
    "pipe_doc_chunking",
    "pipe_train_val_test",
    "pipe_token_packing",
    "udtf_shingles",
    # session additions: sketch rollups, shuffle, scoring, fuzzy/containment
    "rel_bitmap_distinct",
    "rel_hll_sketch_union",
    "pipe_global_shuffle",
    "text_unigram_logprob",
    "dedup_fuzzy_blocked",
    "dedup_containment",
    "o14_silhouette",
    "dedup_cdc_chunks",
    "rel_topk_salted",
    "text_char_entropy",
    "rel_approx_top_k",
    "rel_theta_sketch_sets",
    "stream_topk_types",
    "rel_xml_funcs",
    "pipe_sft_format",
    "rel_anomaly_zscore",
    "udf_arrow_scalar",
    "pipe_span_corruption",
    "text_bigram_logprob",
    "rel_variant_explode",
    "rel_topk_sketch_rollup",
    "rel_pipe_syntax",
    "stream_distinct_users",
    # r5 additions + r5-touched numerics (sim_pq_adc is NOT here: a
    # model-fit query on an empty table raises the documented readable
    # assertion -- see test_pq_codebooks_empty_input_raises_readably)
    "rel_dpp_prune_join",
    "rel_dpp_semijoin_filter",
    "stream_dedup_rocksdb_changelog",
    "pipe_pca_whiten",
    "pipe_pareto_frontier",
    # r7 additions: cogrouped/table-arg pandas+UDTF surfaces, stat,
    # tolerance asof, null-safe join, tz projection, window distinct,
    # capped SemDeDup, state-store reader (empty-source checkpoint)
    "udf_cogroup_asof",
    "rel_asof_tolerance",
    "udtf_table_arg_sessions",
    "rel_window_count_distinct",
    "rel_nullsafe_join",
    "rel_timezone_convert",
    "rel_identifier_clause",
    "rel_stat_crosstab",
    "dedup_semantic_capped",
    "stream_state_reader",
    # r8 additions (rel_observe_metrics is NOT here: a global aggregate
    # returns exactly ONE row on empty input -- see
    # test_observe_metrics_empty_input_is_one_null_row)
    "dedup_semantic_recursive",
    "dedup_semantic_residual_exact",
    "rel_bloom_filter_join",
    "dedup_semantic_survivors",
    "rel_stat_count_min",
    "rel_filter_clause_agg",
    "rel_null_ordering",
    "rel_asof_nearest",
    "rel_order_by_all",
    # r9 additions (kmeans_bisecting_sizes is NOT here: a model-fit
    # query raises the documented readable error -- see
    # test_bisecting_sizes_empty_input_raises_readably)
    "rel_hof_lambda",
    "sim_range_search",
    "sim_ivf_recall_eval",
    "stream_compaction_ingest",
    "rel_limit_offset",
    "rel_regr_linear",
    "pipe_user_erasure",
    "rel_join_hints",
    "rel_set_ops_all",
    # (rel_try_parse_ingest is NOT here either: a global aggregate
    # returns exactly ONE row on empty input -- see
    # test_try_parse_ingest_empty_input_is_one_zero_row)
    "text_bm25_topk",
    "sim_hybrid_rrf",
    "rel_locf_impute",
    "dedup_exact_keep_best",
    "text_intradoc_dedup",
    # r10 additions
    "rel_schema_evolution",
    "rel_bucketed_join",
    "rel_zorder_pruning",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = load_table(spark, SF_DIR, t).schema
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            str(root / f"{t}.parquet")
        )
    return str(root)


@pytest.mark.parametrize("name", QUERIES)
def test_query_on_empty_tables(spark, empty_sf_dir, name):
    df = REGISTRY[name].fn(spark, empty_sf_dir)
    assert df.count() == 0
    assert df.schema == REGISTRY[name].fn(spark, SF_DIR).schema


def test_int8_quantization_empty_and_zero_vectors(spark):
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = quantize_embeddings_int8(empty)
    assert out.count() == 0
    assert out.columns == ["vec_id", "q_code", "q_scale"]

    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [0.0, 3.0, -4.0])],
        "vec_id bigint, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_int8(zeros).collect()}
    assert rows[1]["q_scale"] == 0.0 and all(c == 0 for c in rows[1]["q_code"])
    assert rows[2]["q_scale"] > 0 and max(abs(c) for c in rows[2]["q_code"]) == 127


def test_pq_codebooks_empty_input_raises_readably(spark):
    """Model-fit operators cannot produce a model from zero rows; the
    contract is a READABLE assertion at fit time (same as k-means
    seeding), never a downstream ParseException or silent empty model."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        pq_codebooks,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(AssertionError, match="seed vectors"):
        pq_codebooks(empty)


def test_bisecting_sizes_empty_input_raises_readably(spark, empty_sf_dir):
    """kmeans_bisecting_sizes is a model-fit query: on zero rows the
    contract is a READABLE RuntimeError naming the table (the
    pq_codebooks precedent), never a TypeError from None moment sums
    or an opaque MLlib failure (r8 advice)."""
    with pytest.raises(RuntimeError, match="embeddings table .* is empty"):
        REGISTRY["kmeans_bisecting_sizes"].fn(spark, empty_sf_dir)


def test_observe_metrics_empty_input_is_one_null_row(spark, empty_sf_dir):
    """rel_observe_metrics is a GLOBAL aggregate: on a zero-row table
    the contract is exactly one row -- count 0, sums/max NULL (ANSI
    aggregate semantics, and what the DuckDB oracle emits) -- not an
    empty relation."""
    rows = REGISTRY["rel_observe_metrics"].fn(spark, empty_sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_rows"] == 0
    assert r["sum_qty"] is None
    assert r["sum_price_cents"] is None
    assert r["max_orderkey"] is None


def test_try_parse_ingest_empty_input_is_one_zero_row(spark, empty_sf_dir):
    """rel_try_parse_ingest is a GLOBAL aggregate (the
    rel_observe_metrics class): on zero rows the contract is exactly
    one row -- counts 0, min/max/sum NULL -- not an empty relation."""
    rows = REGISTRY["rel_try_parse_ingest"].fn(spark, empty_sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_total"] == 0 and r["n_ts"] == 0 and r["n_num"] == 0
    assert r["min_ts"] is None and r["sum_num"] is None


def test_lsh_bucket_pairs_empty_input_raises_readably(spark):
    """lsh_bucket_pairs infers embedding dimensionality from the first
    row; on an empty table (or an all-NULL first embedding) the contract
    is a READABLE RuntimeError (the pq_codebooks precedent), never a
    TypeError from subscripting None (code-review r10)."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        lsh_bucket_pairs,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(RuntimeError, match="dimensionality"):
        lsh_bucket_pairs(empty, n_planes=4)


def test_lsh_bucket_sql_rejects_int32_overflow_plane_counts(spark):
    """The bucket id is CAST AS INTEGER with 2^j weights: n_planes >= 32
    would silently wrap in Spark and error in DuckDB.  The operator must
    refuse loudly (code-review r10)."""
    from kmeans_with_mapreduce_cuda_spark.operators.similarity import (
        hyperplanes_pm1,
        lsh_bucket_sql,
    )

    planes = hyperplanes_pm1(dim=4, n_planes=32)
    with pytest.raises(AssertionError, match="31"):
        lsh_bucket_sql("emb", planes, one_based=False)

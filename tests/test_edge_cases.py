"""Edge-case battery for the text/hash Column expressions: one
DataFrame of adversarial inputs pushed through every function, with
expectations computed in plain Python.  Cheap (one Spark job per
function) and covers the corners a fixture-driven oracle never hits:
empty strings, whitespace runs, unicode, single tokens, long repeats.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

CASES = [
    (0, ""),
    (1, " "),
    (2, "\t\n  \t"),
    (3, "one"),
    (4, "one two"),
    (5, "one two three"),
    (6, "  leading and   trailing   "),
    (7, "UPPER lower MiXeD"),
    (8, "héllo wörld ünïcode"),
    (9, "日本語 テキスト 解析 エンジン"),
    (10, "a " * 500 + "a"),  # long repeat
    (11, "tab\tseparated\ttokens here"),
    (12, "punct, heavy!! text?? yes... (very) [much]"),
]


def _df(spark):
    return spark.createDataFrame(CASES, ["doc_id", "text"])


def _tokens_py(t: str) -> list[str]:
    """Mirror of functions.text.tokens's exact semantics: trim strips
    only spaces (both engines), regex-split keeps empty edge pieces."""
    import re

    return re.split(r"\s+", t.strip(" ").lower())


def test_tokens_and_count_edge_cases(spark):
    from kmeans_with_mapreduce_cuda_spark.functions.text import (
        token_count,
        tokens,
    )

    rows = {
        r["doc_id"]: (r["toks"], r["n"])
        for r in _df(spark)
        .select(
            "doc_id",
            tokens("text").alias("toks"),
            token_count("text").alias("n"),
        )
        .collect()
    }
    for i, t in CASES:
        exp = _tokens_py(t)
        assert rows[i][0] == exp, (i, t, rows[i][0], exp)
        assert rows[i][1] == len(exp)


def test_word_shingles_edge_cases(spark):
    """Shingle count == max(0, n_tokens - n + 1) for real token lists;
    empty/whitespace-only docs yield an empty array (never null)."""
    from kmeans_with_mapreduce_cuda_spark.functions.text import word_shingles

    rows = {
        r["doc_id"]: r["sh"]
        for r in _df(spark)
        .select("doc_id", word_shingles("text", 3).alias("sh"))
        .collect()
    }
    for i, t in CASES:
        toks = t.strip().lower().split()
        exp = [
            " ".join(toks[j : j + 3]) for j in range(max(0, len(toks) - 2))
        ]
        assert rows[i] == exp, (i, t, rows[i][:3], exp[:3])


def test_md5_portability_edge_cases(spark):
    """Spark md5(text) must equal hashlib md5 of the UTF-8 bytes --
    the portability assumption every oracle-checked hash rides on."""
    rows = {
        r["doc_id"]: r["h"]
        for r in _df(spark).select("doc_id", F.md5("text").alias("h")).collect()
    }
    for i, t in CASES:
        assert rows[i] == hashlib.md5(t.encode("utf-8")).hexdigest(), (i, t)


def test_minhash_signature_edge_cases(spark):
    """Explode/groupBy signatures: short docs (< n tokens) are ABSENT
    (documented contract); real docs get num_hashes finite values."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        minhash_signatures,
    )

    sig = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(_df(spark), num_hashes=8).collect()
    }
    for i, t in CASES:
        n_tok = len(t.strip().split())
        if n_tok < 3:
            assert i not in sig, (i, t)
        else:
            assert len(sig[i]) == 8 and all(v is not None for v in sig[i])


def test_simhash_edge_cases(spark):
    """SimHash is defined (0..2^16) for every doc including empty; equal
    texts -> equal hashes, case/whitespace-normalized."""
    from kmeans_with_mapreduce_cuda_spark.operators.dedup import (
        simhash16_from_hashes,
        token_hashes,
    )

    d = _df(spark).select(
        "doc_id", simhash16_from_hashes(token_hashes("text")).alias("sh")
    )
    rows = {r["doc_id"]: r["sh"] for r in d.collect()}
    for i, _ in CASES:
        assert rows[i] is not None and 0 <= rows[i] < 2**16
    # normalization: case and whitespace runs don't change the hash
    assert rows[4] == rows[4]
    extra = spark.createDataFrame(
        [(100, "ONE   TWO"), (101, "one two")], ["doc_id", "text"]
    ).select("doc_id", simhash16_from_hashes(token_hashes("text")).alias("sh"))
    a, b = [r["sh"] for r in extra.collect()]
    assert a == b


def test_quality_metrics_edge_cases(spark, tmp_path):
    """text_quality_score agrees with its DuckDB oracle on empty and
    whitespace-only documents: the punctuation ratio of an empty text is
    NULL in both engines, never a DIVIDE_BY_ZERO under ANSI mode."""
    import duckdb as ddb

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in CASES],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    d = str(tmp_path / "adv")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    q = REGISTRY["text_quality_score"]
    got = sorted(tuple(r) for r in q.fn(spark, d).collect())
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    exp = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert len(got) == len(CASES)
    assert got == exp, (got, exp)


def test_ngram_lang_id_on_real_sentences(spark):
    """The trigram+script heuristic on actual natural-language text
    (the synthetic fixtures are English-ish under every label, so this
    is where detection quality is provable)."""
    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _LANG_TRIGRAMS,
    )
    from pyspark.sql import functions as F

    samples = [
        (0, "en", "the quick brown fox is jumping over the lazy dog and singing"),
        (1, "es", "los datos que llegaron ayer fueron procesados de madrugada"),
        (2, "de", "der schnelle braune fuchs springt und singt ein schönes lied"),
        (3, "fr", "les données des clients sont une ressource très importante"),
        (4, "zh", "这是一个中文句子，用来测试汉字检测分支。"),
    ]
    df = spark.createDataFrame(samples, ["doc_id", "lang", "text"])
    df.createOrReplaceTempView("_lid_docs")
    t = F.lower(F.col("text"))

    def score(lang):
        s = None
        for g in _LANG_TRIGRAMS[lang]:
            c = (F.length(t) - F.length(F.replace(t, F.lit(g)))) / 3
            s = c if s is None else s + c
        return s

    s = {lang: score(lang) for lang in ("en", "es", "de", "fr")}
    best = F.greatest(*s.values())
    alpha = (
        F.when(s["en"] == best, "en")
        .when(s["es"] == best, "es")
        .when(s["de"] == best, "de")
        .otherwise("fr")
    )
    pred = F.when(t.rlike(r"\p{script=Han}"), "zh").otherwise(alpha)
    got = {
        r["doc_id"]: r["p"]
        for r in df.select("doc_id", pred.alias("p")).collect()
    }
    for i, lang, _ in samples:
        assert got[i] == lang, (i, lang, got[i])


def test_group_normalize_degenerate_groups_yield_null(spark):
    """Singleton and zero-variance groups: pandas (v-mean)/std(ddof=1)
    gives NaN where the SQL window formulation gives NULL.  The grouped
    UDF must null out non-finite z-scores so both engines agree."""
    import math

    from kmeans_with_mapreduce_cuda_spark.plans.registry import REGISTRY

    df = spark.createDataFrame(
        [
            (1, "solo", 5.0),       # singleton group -> std is NaN
            (2, "flat", 3.0),       # zero-variance group -> std = 0
            (3, "flat", 3.0),
            (4, "ok", 1.0),         # healthy group
            (5, "ok", 3.0),
        ],
        "event_id bigint, event_type string, value double",
    )
    df.createOrReplaceTempView("events_degenerate")

    def normalize(pdf):
        import numpy as np

        v = pdf["value"]
        z = ((v - v.mean()) / v.std(ddof=1)).round(6)
        z = z.where(np.isfinite(z))
        return pdf.assign(value_z=z)[["event_id", "event_type", "value_z"]]

    out = {
        r["event_id"]: r["value_z"]
        for r in df.groupBy("event_type")
        .applyInPandas(
            normalize, "event_id bigint, event_type string, value_z double"
        )
        .collect()
    }
    assert out[1] is None
    assert out[2] is None and out[3] is None
    assert out[4] is not None and not math.isnan(out[4])
    # and the registered gate query's UDF behaves identically (the body
    # above mirrors plans/pipeline.py:udf_group_normalize)
    assert "udf_group_normalize" in REGISTRY


def test_funnel_respects_event_order(spark, tmp_path):
    """A purchase BEFORE the user's first view (or a click before it)
    must not advance the funnel: stages are ordered by event time, not
    mere existence."""
    import pandas as pd

    rows = [
        # user 1: clean view -> click -> purchase
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-01 00:01:00", "click"),
        (1, "2024-01-01 00:02:00", "purchase"),
        # user 2: purchase first, then view; no click -> view stage only
        (2, "2024-01-01 00:00:00", "purchase"),
        (2, "2024-01-01 00:01:00", "view"),
        # user 3: click before view, second click after -> view+click
        (3, "2024-01-01 00:00:00", "click"),
        (3, "2024-01-01 00:01:00", "view"),
        (3, "2024-01-01 00:05:00", "click"),
        # user 4: clicks but never views -> reaches nothing
        (4, "2024-01-01 00:00:00", "click"),
        (4, "2024-01-01 00:01:00", "purchase"),
    ]
    src = tmp_path / "funnel_events"
    src.mkdir()
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime([r[1] for r in rows]),
            "user_id": [r[0] for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [0.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(src / "events.parquet", coerce_timestamps="us")
    from kmeans_with_mapreduce_cuda_spark.plans.registry import REGISTRY

    got = {
        r["stage"]: r["n_users"]
        for r in REGISTRY["rel_funnel"].fn(spark, str(src)).collect()
    }
    assert got == {"view": 3, "view_click": 2, "view_click_purchase": 1}


def test_bigram_logprob_agrees_on_whitespace_residue_docs(spark, tmp_path):
    """Review finding (r4): the raw regexp-split oracle kept empty edge
    tokens for tab/newline residue while word_shingles never emits
    them.  The oracle now filters empties before building bigrams --
    assert Spark and DuckDB agree on an adversarial fixture where they
    previously diverged."""
    import duckdb as ddb

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

    docs = [
        (1, "\tfoo bar", "en", "web", 8),
        (2, "foo bar \n baz", "en", "web", 13),
        (3, "plain words only here", "en", "web", 21),
        (4, "\t\n", "en", "web", 2),
    ]
    df = spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    d = str(tmp_path / "adv")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    got = sorted(
        tuple(r)
        for r in REGISTRY["text_bigram_logprob"].fn(spark, d).collect()
    )
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    exp = sorted(
        tuple(r)
        for r in con.execute(REGISTRY["text_bigram_logprob"].oracle).fetchall()
    )
    assert got == exp, (got, exp)


def test_pos_cents_equals_round_idiom_on_two_decimal_grid(spark):
    """pos_cents (CAST(x*100 + 0.5 AS BIGINT), the codegen-native cents
    idiom) must equal round(x*100) for EVERY positive 2-decimal value a
    money column can hold, not just the fixture's draw: sweep the full
    cent grid over several magnitude decades (0.01 .. ~1e7), where
    x*100's float error is largest relative to the 0.5 guard."""
    from kmeans_with_mapreduce_cuda_spark.plans.relational import pos_cents

    df = (
        spark.range(1, 2_000_000, 7)  # ~285k cent values across decades
        .withColumn("x", (F.col("id").cast("double") * 7.0 + 3.0) / 100.0)
        .withColumn("f", pos_cents("x"))
        .withColumn("r", F.round(F.col("x") * 100).cast("bigint"))
    )
    bad = df.where(F.col("f") != F.col("r")).count()
    assert bad == 0


def test_committed_write_replaces_stale_dest(spark, tmp_path):
    """committed_write must atomically replace a pre-existing (stale or
    partial) destination and leave no temp sibling behind."""
    import os

    from kmeans_with_mapreduce_cuda_spark.sources.readers import (
        committed_write,
    )

    dest = str(tmp_path / "cw_dest")
    os.makedirs(dest)
    with open(os.path.join(dest, "stale.txt"), "w") as f:
        f.write("half-written junk")

    committed_write(
        dest,
        lambda tmp: spark.range(5).write.mode("overwrite").parquet(tmp),
    )
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert not os.path.exists(os.path.join(dest, "stale.txt"))
    assert spark.read.parquet(dest).count() == 5
    siblings = [
        p for p in os.listdir(tmp_path) if p.startswith("cw_dest.tmp.")
    ]
    assert siblings == []


def test_fixture_keyed_tmpdir_private_root(spark):
    """The scratch root must be per-user and 0700 (ADVICE r4: a
    predictable path in the world-writable tempdir could be pre-planted
    by another local user)."""
    import os
    import stat
    import tempfile

    from kmeans_with_mapreduce_cuda_spark.sources.readers import (
        fixture_keyed_tmpdir,
    )

    from conftest import SF_DIR

    p = fixture_keyed_tmpdir(SF_DIR, "lineitem", "kmrc_unittest")
    root = os.path.dirname(p)
    uid = os.getuid() if hasattr(os, "getuid") else 0
    assert os.path.basename(root) == f"kmrc_u{uid}"
    assert os.path.dirname(root) == tempfile.gettempdir()
    st = os.stat(root)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == uid


def test_drain_timeout_env_validation(monkeypatch):
    """_drain_timeout names the env var on EVERY bad input class: a
    malformed string, zero, and a negative value (awaitTermination(0)
    would otherwise raise a bare VALUE_NOT_POSITIVE naming only
    'timeout')."""
    import pytest

    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _drain_timeout,
    )

    monkeypatch.delenv("SPARK_GRAFT_DRAIN_TIMEOUT", raising=False)
    assert _drain_timeout() == 120
    monkeypatch.setenv("SPARK_GRAFT_DRAIN_TIMEOUT", "300")
    assert _drain_timeout() == 300
    for bad in ("abc", "12.5", "0", "-5", ""):
        monkeypatch.setenv("SPARK_GRAFT_DRAIN_TIMEOUT", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_DRAIN_TIMEOUT"):
            _drain_timeout()


def test_await_drain_always_stops_the_query(monkeypatch):
    """_await_drain must stop() the stream on BOTH paths: a clean drain
    (stop is idempotent, never leaks a stream) and a timeout (the
    TimeoutError must not leave the query running)."""
    import pytest

    from kmeans_with_mapreduce_cuda_spark.plans.pipeline import (
        _await_drain,
    )

    # a leftover probe-session override (e.g. "0") must not leak in
    monkeypatch.delenv("SPARK_GRAFT_DRAIN_TIMEOUT", raising=False)

    class FakeQuery:
        def __init__(self, drained: bool):
            self.drained = drained
            self.stopped = False

        def awaitTermination(self, timeout):
            assert timeout > 0
            return self.drained

        def stop(self):
            self.stopped = True

    ok = FakeQuery(drained=True)
    _await_drain(ok, "test stream")
    assert ok.stopped

    hung = FakeQuery(drained=False)
    with pytest.raises(TimeoutError, match="test stream"):
        _await_drain(hung, "test stream")
    assert hung.stopped

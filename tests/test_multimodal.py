"""Multimodal plumbing tests: metadata is exact, the decode stub is
deterministic and batch-shape invariant, magic-byte sniffing works on
real magic bytes."""

from __future__ import annotations

from pyspark.sql import functions as F

from kmeans_with_mapreduce_cuda_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_and_featurize,
    documents_as_binary,
    payload_metadata,
    sniff_media_type,
)
from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table

from conftest import SF_DIR


def test_payload_metadata_matches_text(spark):
    d = documents_as_binary(load_table(spark, SF_DIR, "documents")).limit(50)
    rows = d.select("doc_id", payload_metadata("payload").alias("m")).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents").limit(50).collect()
    }
    for r in rows:
        t = docs[r["doc_id"]]
        assert r["m"]["n_bytes"] == len(t.encode())
        assert r["m"]["media_type"] == "application/octet-stream"


def test_magic_byte_sniffing(spark):
    samples = [
        (bytearray(b"\x89PNG\r\n\x1a\n") + b"xxxx", "image/png"),
        (bytearray(b"\xff\xd8\xff\xe0") + b"JFIF", "image/jpeg"),
        (bytearray(b"GIF89a") + b"xx", "image/gif"),
        (bytearray(b"RIFF") + b"1234WAVE", "audio/wav"),
        (bytearray(b"%PDF-1.7") + b"x", "application/pdf"),
        (bytearray(b"plain text"), "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        [(i, bytes(b)) for i, (b, _) in enumerate(samples)], ["i", "payload"]
    )
    got = {
        r["i"]: r["mt"]
        for r in df.select("i", sniff_media_type("payload").alias("mt")).collect()
    }
    for i, (_, want) in enumerate(samples):
        assert got[i] == want, (i, got[i], want)


def test_decode_stub_deterministic_and_batch_invariant(spark):
    d = documents_as_binary(load_table(spark, SF_DIR, "documents")).limit(100)
    a = decode_and_featurize(d.repartition(1)).collect()
    b = decode_and_featurize(d.repartition(7)).collect()

    def keyed(rows):
        return {
            r["doc_id"]: (r["width"], r["height"], tuple(r["features"]))
            for r in rows
        }

    ka, kb = keyed(a), keyed(b)
    assert ka == kb, "features must not depend on partitioning/batch shape"
    for w, h, feats in ka.values():
        assert len(feats) == FEATURE_DIM
        assert abs(sum(feats) - 1.0) < 1e-5  # normalized histogram
        assert 1 <= w <= 640 and 1 <= h <= 480


def test_decode_status_marks_stub(spark):
    d = documents_as_binary(load_table(spark, SF_DIR, "documents")).limit(5)
    st = decode_and_featurize(d).select("decode_status").distinct().collect()
    assert [r["decode_status"] for r in st] == ["stub"]


def test_resize_stub_contract(spark):
    from kmeans_with_mapreduce_cuda_spark.operators.multimodal import (
        documents_as_binary,
        resize_images,
    )

    d = documents_as_binary(
        load_table(spark, SF_DIR, "documents").limit(200)
    )
    r = resize_images(d, max_side=64).collect()
    assert len(r) == 200
    for row in r:
        assert 1 <= row["width"] <= 64 and 1 <= row["height"] <= 64
        assert row["resize_status"] == "stub"
        assert row["payload"] is not None
    # determinism + batch-size invariance
    r2 = resize_images(d.repartition(7), max_side=64).collect()
    key = lambda x: x["doc_id"]
    assert sorted(map(tuple, r), key=lambda t: t[0]) == sorted(
        map(tuple, r2), key=lambda t: t[0]
    )


def test_resize_empty_and_null_payloads(spark):
    """Empty/None payloads must still emit the byte count the metadata
    oracle computes: GREATEST(1, floor(n*scale^2)) == 1 byte, padded."""
    from kmeans_with_mapreduce_cuda_spark.operators.multimodal import (
        resize_images,
    )
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    d = spark.createDataFrame(
        [(1, b""), (2, None), (3, b"x" * 10)], schema
    )
    rows = {r["doc_id"]: r for r in resize_images(d, max_side=64).collect()}
    assert len(rows[1]["payload"]) == 1  # floor(0*1*1) clipped to 1
    assert len(rows[2]["payload"]) == 1
    assert len(rows[3]["payload"]) == 10  # scale=1 (dims 11x11 <= 64)
    for r in rows.values():
        assert r["width"] >= 1 and r["height"] >= 1


def test_sample_frames_multi_emit(spark):
    from pyspark.sql import functions as F

    from kmeans_with_mapreduce_cuda_spark.operators.multimodal import (
        FRAME_BYTES,
        MAX_FRAMES,
        documents_as_binary,
        sample_frames,
    )

    d = documents_as_binary(load_table(spark, SF_DIR, "documents").limit(100))
    fr = sample_frames(d)
    rows = fr.collect()
    assert rows, "expected at least one frame"
    per_doc = fr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(1 <= r["n"] <= MAX_FRAMES for r in per_doc)
    # expected count is a pure function of payload length
    exp = {
        r["doc_id"]: min(MAX_FRAMES, r["n_bytes"] // FRAME_BYTES)
        for r in d.select(
            "doc_id", F.octet_length("payload").alias("n_bytes")
        ).collect()
        if r["n_bytes"] >= FRAME_BYTES
    }
    got = {r["doc_id"]: r["n"] for r in per_doc}
    assert got == exp
    for r in rows[:5]:
        assert len(r["frame_payload"]) == FRAME_BYTES


def test_binary_file_source_feeds_multimodal_pipeline(spark, tmp_path):
    """How payloads actually arrive at a pipeline: raw files on object
    storage read via the built-in binaryFile source (path, length,
    content columns), flowing straight into the payload-metadata and
    decode/featurize operators without any byte munging."""
    import os

    from kmeans_with_mapreduce_cuda_spark.operators.multimodal import (
        decode_and_featurize,
        payload_metadata,
    )

    blobs = {
        "a.bin": b"\x89PNG\r\n\x1a\nfakepngpayload",
        "b.bin": b"RIFFxxxxWAVEfakeaudio",
        "c.bin": b"plain text bytes",
    }
    src = tmp_path / "blobs"
    src.mkdir()
    for name, data in blobs.items():
        (src / name).write_bytes(data)

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(src))
        .select(
            F.element_at(F.split("path", "/"), -1).alias("name"),
            "length",
            F.col("content").alias("payload"),
        )
    )
    rows = {r["name"]: r for r in df.collect()}
    assert set(rows) == set(blobs)
    for name, data in blobs.items():
        assert rows[name]["length"] == len(data)
        assert bytes(rows[name]["payload"]) == data

    meta = df.select("name", payload_metadata("payload").alias("m")).collect()
    got = {r["name"]: r["m"]["n_bytes"] for r in meta}
    assert got == {n: len(d) for n, d in blobs.items()}

    feats = {
        r["doc_id"]: r
        for r in decode_and_featurize(
            df.select("name", "payload"), id_col="name"
        ).collect()
    }
    assert set(feats) == set(blobs)
    # the stub's dims are pure functions of byte length
    for name, data in blobs.items():
        assert feats[name]["width"] == len(data) % 640 + 1

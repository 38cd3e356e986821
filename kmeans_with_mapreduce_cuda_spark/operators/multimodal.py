"""Multimodal columns: image/audio/video payloads as opaque ``binary``
columns with typed metadata, plus Arrow-batched feature extraction.

The DECODE step is a deterministic stub (the oracle-checked path,
independent of installed codecs).  Everything Spark-side is real and
tested: schema, partitioning, the mapInPandas batch shape, and the
JVM-side metadata/magic-byte path.

Scale notes: payload bytes never enter a shuffle -- metadata extraction
is a narrow projection; feature extraction is mapInPandas (Arrow batches,
one Python worker per core); downstream ops (dedup, ANN) run on the
extracted features/digests, not the blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 16


def sniff_media_type(payload: Column | str) -> Column:
    """Magic-byte sniffing on a binary column -- pure JVM expressions
    (hex of the first bytes), no Python."""
    p = F.col(payload) if isinstance(payload, str) else payload
    head8 = F.hex(F.substring(p, 1, 8))
    return (
        F.when(head8.startswith("89504E47"), "image/png")
        .when(head8.startswith("FFD8FF"), "image/jpeg")
        .when(head8.startswith("47494638"), "image/gif")
        .when(head8.startswith("52494646"), "audio/wav")  # RIFF
        .when(head8.startswith("494433"), "audio/mp3")  # ID3
        .when(head8.startswith("255044462D"), "application/pdf")
        .otherwise("application/octet-stream")
    )


def payload_metadata(payload: Column | str) -> Column:
    """Typed metadata struct for an opaque payload: byte length, md5
    digest, sniffed media type.  Narrow projection; the digest is what
    exact dedup shuffles instead of the blob."""
    p = F.col(payload) if isinstance(payload, str) else payload
    return F.struct(
        F.octet_length(p).alias("n_bytes"),
        F.md5(p).alias("digest"),
        sniff_media_type(p).alias("media_type"),
    )


def documents_as_binary(docs: DataFrame) -> DataFrame:
    """Fixture adapter: treat each document's text bytes as an opaque
    payload column (the fixtures ship no real image bytes; the plumbing
    is payload-agnostic)."""
    return docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )


#: output schema of the decode stub: what a real decoder would emit.
DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("features", ArrayType(FloatType())),
        StructField("decode_status", StringType()),
    ]
)


def decode_and_featurize(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode + feature-extract the binary ``payload`` column via
    mapInPandas (Arrow batches).

    The decode is a DETERMINISTIC STUB: width/height derived from the
    byte length, features = a rolling-hash byte histogram.  A real codec
    (PIL/libvips) would keep the same Spark-side contract (schema,
    batching, partition-parallelism).

    ``id_col`` names the passthrough identifier column -- payload tables
    key on whatever the ingest produced (doc_id, asset path from the
    binaryFile source, ...); the output schema renames it to ``doc_id``
    with the id's own type preserved.
    """
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [StructField("doc_id", id_type), *DECODE_SCHEMA.fields[1:]]
    )

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = pdf["payload"]
            n = payloads.str.len().fillna(0).astype("int64")
            feats = []
            for b in payloads:
                b = b or b""
                arr = np.frombuffer(b[:4096], dtype=np.uint8).astype(np.int64)
                # vectorized rolling-hash histogram: the per-byte Python
                # loop it replaces was ~20M interpreter iterations per
                # 5k docs (6 s -> <1 s at sf0.1)
                idx = (arr + np.arange(arr.size)) % FEATURE_DIM
                counts = np.bincount(idx, minlength=FEATURE_DIM).astype(
                    np.float32
                )
                total = counts.sum() or 1.0
                feats.append((counts / total).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": (n % 640 + 1).astype("int32"),
                    "height": (n % 480 + 1).astype("int32"),
                    "channels": np.full(len(pdf), 3, dtype="int32"),
                    "features": feats,
                    "decode_status": "stub",
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


#: output schema of the resize stub: payload out, new dimensions.
RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
        StructField("resize_status", StringType()),
    ]
)


def resize_images(df: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize via mapInPandas.  STUB codec: emits a payload of
    exactly ``greatest(1, floor(n * scale^2))`` bytes (truncated, then
    null-padded -- so an empty/None input still yields the 1 byte the
    metadata promises), deterministic.  The contract a real codec would
    keep -- binary in, binary out, metadata columns updated, Arrow
    batches, no shuffle."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            n = pdf["payload"].str.len().fillna(0).astype("int64")
            w = (n % 640 + 1).astype("int64")
            h = (n % 480 + 1).astype("int64")
            scale = (max_side / pd.concat([w, h], axis=1).max(axis=1)).clip(upper=1.0)
            keep = (n * scale * scale).astype("int64").clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": (w * scale).astype("int32").clip(lower=1),
                    "height": (h * scale).astype("int32").clip(lower=1),
                    # output byte count must equal `keep` even for
                    # empty/None payloads (the mm_resize_meta oracle
                    # computes GREATEST(1, floor(n*scale^2)))
                    "payload": [
                        (b or b"")[:k].ljust(k, b"\x00")
                        for b, k in zip(pdf["payload"], keep)
                    ],
                    "resize_status": "stub",
                }
            )

    return df.mapInPandas(batches, schema=RESIZE_SCHEMA)


#: frame sampling: one frame per FRAME_BYTES payload bytes, at most
#: MAX_FRAMES per row (sample_frames and the mm_frame_sample oracle)
FRAME_BYTES = 64
MAX_FRAMES = 8

#: output schema of the frame-sample stub: one row per sampled frame.
FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_payload", BinaryType()),
        StructField("sample_status", StringType()),
    ]
)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling via mapInPandas: one input row (a 'video' payload)
    -> up to MAX_FRAMES output rows of FRAME_BYTES bytes each.  STUB
    codec: deterministic fixed-stride byte slices stand in for decoded
    frames.  The multi-emit contract (1 row in, N rows out through
    Arrow) is the real thing -- the reference mapper's NUM_PAIRS slots
    (config.cuh:13) generalized to a data-dependent count."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out_id, out_idx, out_payload = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                b = b or b""
                for i in range(min(MAX_FRAMES, len(b) // FRAME_BYTES)):
                    out_id.append(doc_id)
                    out_idx.append(i)
                    out_payload.append(b[i * FRAME_BYTES : (i + 1) * FRAME_BYTES])
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "frame_idx": out_idx,
                    "frame_payload": out_payload,
                    "sample_status": "stub",
                }
            )

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)

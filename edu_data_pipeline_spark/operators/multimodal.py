"""Multimodal columns: opaque binary payloads + typed metadata.

Extends the engine for training-data pipelines that carry image/audio/
video alongside text (BASELINE north star). Design:

- Media travels as an opaque ``binary`` column plus a typed metadata
  struct (media_type, width/height, n_frames, sample_rate, n_bytes) —
  Parquet stores the bytes column-oriented, Spark never interprets them
  JVM-side.
- decode + feature extraction run as one Arrow-batched ``mapInPandas``
  stage: the Spark-side plumbing (schemas, batch iteration,
  partitioning) is real and tested. The codec work is STUBBED: no
  image/audio library is installed, so the deterministic byte-level
  fake (``_decode_fake``) decodes. A real codec replaces that one
  function.

Scale: feature extraction is embarrassingly parallel (mapInPandas, no
shuffle); batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory holds
payload_size x batch_rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_FEATURE_BINS = 16

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_bytes", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Turn the documents table into a media table: payload = utf-8 bytes of
    the text (deterministic stand-in for real image/audio blobs), typed
    metadata derived from doc_id/n_chars. Pure native expressions."""
    k = F.col("doc_id")
    media_type = (
        F.when(k % 3 == 0, "image").when(k % 3 == 1, "audio").otherwise("video")
    )
    payload = F.encode(F.col("text"), "utf-8")
    meta = F.struct(
        (F.lit(64) + (k % 8) * 32).cast("int").alias("width"),
        (F.lit(64) + (k % 5) * 32).cast("int").alias("height"),
        F.when(k % 3 == 2, (k % 30 + 1).cast("int")).otherwise(F.lit(1).cast("int")).alias("n_frames"),
        F.when(k % 3 == 1, F.lit(16000)).otherwise(F.lit(0)).cast("int").alias("sample_rate"),
        F.length(payload).cast("int").alias("n_bytes"),
    )
    return docs.select(
        k.alias("doc_id"), media_type.alias("media_type"), payload.alias("payload"),
        meta.alias("meta"),
    )


def _decode_fake(payload: bytes) -> list[float]:
    """Deterministic stand-in decode: 16-bin byte histogram, L1-normalized."""
    counts = [0] * N_FEATURE_BINS
    for byte in payload:
        counts[byte % N_FEATURE_BINS] += 1
    total = max(len(payload), 1)
    return [c / total for c in counts]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_fake(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return media.mapInPandas(_extract, FEATURE_SCHEMA)


"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas kernels.

The Spark-side architecture is the deliverable — schema, partition
discipline, UDF signatures, batch shapes — all real and tested. The
actual codec calls are stubbed (image/audio libraries are not in this
container): ``decode_image_batch`` raises ``NotImplementedError`` unless
``fake=True``, in which case a deterministic hash-derived "decode"
stands in so the downstream plumbing (resize, feature extraction, frame
sampling) is exercised end-to-end.

Scale notes:
- Media bytes stay in ``binary`` columns; nothing is base64'd or
  stringified. Arrow moves them zero-copy into pandas.
- ``mapInPandas`` processes per-partition batches — the shape a
  GPU-backed decoder takes; ``spark.sql.execution.arrow.maxRecordsPerBatch``
  bounds batch memory for large blobs.
- Derived features land in fixed-width typed columns so downstream
  operators (dedup, similarity) run as plain vectorized expressions.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def generate_media(spark: SparkSession, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic synthetic media table: content = md5-chain bytes,
    metadata plausible for the kind. Generation is a distributed range
    scan (same pattern as datagen)."""
    idx = F.col("id")
    content = F.unbase64(
        F.base64(
            F.concat(
                *[F.unhex(F.md5(F.concat(idx.cast("string"), F.lit(f"|{i}")))) for i in range(8)]
            )
        )
    )
    return spark.range(n).select(
        idx.alias("media_id"),
        F.lit(kind).alias("kind"),
        content.alias("content"),
        F.struct(
            (F.pmod(F.xxhash64(idx, F.lit("w")), F.lit(1920)) + 16).cast("int").alias("width"),
            (F.pmod(F.xxhash64(idx, F.lit("h")), F.lit(1080)) + 16).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(F.xxhash64(idx, F.lit("f")), F.lit(300)) + 1).cast("int").alias("n_frames"),
            F.lit(f"{kind}/synthetic").alias("mime"),
        ).alias("meta"),
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Bridge the driver corpus into the media schema: each document's
    text bytes become the opaque ``content`` blob (deterministic,
    corpus-derived), kind cycles image/audio/video, and metadata derives
    from ``n_chars`` — so every multimodal operator is exercisable from
    the standard tables with no synthetic side-channel."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    n_chars = F.col("n_chars").cast("int")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            (F.pmod(n_chars, F.lit(1920)) + 16).alias("width"),
            (F.pmod(n_chars * 7, F.lit(1080)) + 16).alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(n_chars, F.lit(300)) + 1).alias("n_frames"),
            F.concat(kind, F.lit("/synthetic")).alias("mime"),
        ).alias("meta"),
    )


def _fake_decode(content: bytes, n_values: int = 64) -> np.ndarray:
    """Deterministic stand-in for a codec: expand bytes into ``n_values``
    uint8 samples via an md5 chain. The chain advances over HEX STRINGS
    (``md5(hexdigest.encode())``), not raw digest bytes, so an engine
    whose md5 only accepts strings (DuckDB) can replay it — this is what
    lets ``media_feature_stats`` graduate to a full hash-checked oracle.
    Replace with PIL/libav in production."""
    out: list[int] = []
    seed = hashlib.md5(content or b"").hexdigest()
    while len(out) < n_values:
        out.extend(bytes.fromhex(seed))
        seed = hashlib.md5(seed.encode()).hexdigest()
    return np.frombuffer(bytes(out[:n_values]), dtype=np.uint8)


def decode_features(
    media: DataFrame,
    n_values: int = 64,
    fake: bool = False,
) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas``: binary content in,
    fixed-width float feature vector + summary stats out.

    With ``fake=False`` this raises ``NotImplementedError`` from the
    executors at the decode step — the real codec belongs there; every
    other part (schema, Arrow batching, output typing) is production
    shape.
    """

    from realtime_voting_data_engineering_spark.session import (
        ensure_workers_can_import,
    )

    ensure_workers_can_import(media.sparkSession)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media codecs not available in this environment; "
                    "pass fake=True for the deterministic test decoder"
                )
            feats = np.stack(
                [_fake_decode(c, n_values) for c in pdf["content"]]
            ).astype(np.float64)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": list(feats / 255.0),
                    "mean_value": feats.mean(axis=1) / 255.0,
                    "std_value": feats.std(axis=1) / 255.0,
                }
            )

    schema = (
        "media_id long, kind string, feature array<double>, "
        "mean_value double, std_value double"
    )
    return media.select("media_id", "kind", "content").mapInPandas(kernel, schema)


def sample_frames(
    media: DataFrame,
    every_nth: int = 30,
) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per sampled
    frame index, computed from metadata only (pure expressions — the
    decode of the sampled frame is ``decode_features``' job). Explode is
    executor-side; no driver materialization."""
    # NULL n_frames (unknown length) plans ZERO frames — the explicit
    # guard matters because Spark's greatest() IGNORES null operands, so
    # greatest(NULL - 1, 0) = 0 would silently emit frame 0 for media
    # whose metadata is missing (SQL range(0, NULL) correctly yields
    # nothing — tools/run_audits.py --classes null finding).
    idxs = F.when(
        F.col("meta.n_frames").isNotNull(),
        F.sequence(
            F.lit(0),
            F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
            F.lit(every_nth),
        ),
    )
    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", F.explode(idxs).alias("frame_idx"))
    )


def resize_meta(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize bookkeeping: target dimensions preserving aspect ratio,
    computed vectorized from metadata; the pixel work happens in the
    decode kernel. Shows the metadata-first discipline: plan the op
    across 100 TB of blobs without touching a byte of media."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(max_side) / w, F.lit(max_side) / h, F.lit(1.0))
    return media.select(
        "media_id",
        "kind",
        w.alias("orig_width"),
        h.alias("orig_height"),
        F.round(w * scale).cast("int").alias("target_width"),
        F.round(h * scale).cast("int").alias("target_height"),
    )

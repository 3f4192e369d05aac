"""Multimodal column plumbing: opaque binary blobs + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns next to typed
metadata (SURVEY.md §2.12-adjacent; driver mandate).  The Spark-side
plumbing — schema, Arrow batch shape, partition behavior — is real and
tested; the actual codec decode is stubbed (the decode libraries are not in
this container) behind ``decode_real``, with a deterministic fake feature
extractor as the default so results are reproducible and testable.

Scale design: ``mapInPandas`` keeps blobs inside Arrow batches end-to-end
(no per-row Python, no driver collect); batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of large
blobs cannot blow executor memory.  Feature extraction is embarrassingly
parallel — zero shuffles.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, media_ref string, n_bytes int, media_kind string, "
    "feat array<float>, feat_norm double"
)

N_FEATURES = 8


def decode_real(blob: bytes, kind: str) -> np.ndarray:
    """Real codec decode (image/audio/video → feature vector).

    STUB: decode libraries (PIL/ffmpeg/librosa) are not available in this
    environment.  At deploy time this is the only function to replace; the
    surrounding Spark plumbing (schema, batching, partitioning) is final.
    """
    raise NotImplementedError("codec libraries not available in this sandbox")


def decode_fake(blob: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in decode: digest bytes → N_FEATURES floats in [0,1).

    Pure function of (blob, kind) so tests and resume runs are stable.
    """
    h = hashlib.sha256(kind.encode() + b"|" + blob).digest()
    raw = np.frombuffer(h[: 4 * N_FEATURES], dtype="<u4").astype(np.float64)
    return (raw / 2**32).astype(np.float32)


def _norm(f: np.ndarray) -> float:
    """Sequential left-to-right sum-of-squares, NOT np.dot: BLAS ddot may
    unroll/reorder the sum, while the DuckDB oracle's list_sum is
    sequential — this keeps feat_norm bit-identical cross-engine."""
    acc = 0.0
    for x in f:
        v = float(x)
        acc += v * v
    import math
    return math.sqrt(acc)


def _feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        feats = [decode_fake(bytes(b), k)
                 for b, k in zip(pdf["blob"], pdf["media_kind"])]
        out = pdf[["doc_id", "media_ref", "n_bytes", "media_kind"]].copy()
        out["feat"] = [f.tolist() for f in feats]
        out["feat_norm"] = [_norm(f) for f in feats]
        yield out


def media_features(media_df: DataFrame) -> DataFrame:
    """(doc_id, blob:binary, media_kind) → decoded feature rows.

    Map-side only; blobs never leave Arrow.  `media_ref` is the
    content-address (sha-free md5 here to match the relational leg).
    """
    prepared = media_df.select(
        "doc_id",
        F.concat(F.lit("media://"), F.md5("blob")).alias("media_ref"),
        F.octet_length("blob").alias("n_bytes"),
        "media_kind",
        "blob",
    )
    return prepared.mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from the driver `documents` parquet:
    the utf-8 text bytes stand in for an opaque blob, kind cycles by doc_id."""
    kind = (F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("video"))
    return docs.select(
        "doc_id", F.encode("text", "utf-8").alias("blob"), kind.alias("media_kind"))


# --- resize / frame-sample plumbing (same stub pattern as decode) -----------

RESIZE_SCHEMA = (
    "doc_id bigint, media_ref string, media_kind string, "
    "target_w int, target_h int, thumb binary"
)
FRAME_SCHEMA = (
    "doc_id bigint, media_ref string, frame_idx int, ts_ms long, frame binary"
)


def resize_fake(blob: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in for an image resize: digest-expand to w*h bytes.

    Real codec path belongs in :func:`decode_real`'s family — the Spark
    plumbing (schema, batching) is what this module makes real.
    """
    h1 = hashlib.sha256(b"resize|%d|%d|" % (w, h) + blob).digest()
    reps = (w * h + len(h1) - 1) // len(h1)
    return (h1 * reps)[: w * h]


def _resize_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = pdf[["doc_id", "media_ref", "media_kind", "target_w", "target_h"]].copy()
        out["thumb"] = [resize_fake(bytes(b), int(w), int(h))
                        for b, w, h in zip(pdf["blob"], pdf["target_w"],
                                           pdf["target_h"])]
        yield out


def media_resize(media_df: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """(doc_id, blob, media_kind) → thumbnail rows.  Map-side only."""
    prepared = media_df.select(
        "doc_id",
        F.concat(F.lit("media://"), F.md5("blob")).alias("media_ref"),
        "media_kind", "blob",
        F.lit(width).alias("target_w"), F.lit(height).alias("target_h"),
    )
    return prepared.mapInPandas(_resize_batches, schema=RESIZE_SCHEMA)


def _frame_batches(n_frames: int):
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in it:
            for doc_id, ref, blob in zip(pdf["doc_id"], pdf["media_ref"],
                                         pdf["blob"]):
                b = bytes(blob)
                # deterministic "frames": sliced digests at evenly spaced
                # timestamps — one output row per sampled frame
                for k in range(n_frames):
                    fr = hashlib.sha256(b"frame|%d|" % k + b).digest()
                    rows.append((int(doc_id), ref, k, 1000 * k, fr))
            out = pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "frame_idx", "ts_ms", "frame"])
            rows = []
            yield out
    return gen


def frame_sample(media_df: DataFrame, n_frames: int = 4) -> DataFrame:
    """(doc_id, blob, media_kind) → n sampled frames per video blob.

    Row-expanding map (1 → n_frames), still shuffle-free: sampling is per
    blob, so the stage pipelines inside whatever partitioning the input
    already has.
    """
    prepared = media_df.filter(F.col("media_kind") == "video").select(
        "doc_id",
        F.concat(F.lit("media://"), F.md5("blob")).alias("media_ref"),
        "blob",
    )
    return prepared.mapInPandas(_frame_batches(n_frames), schema=FRAME_SCHEMA)

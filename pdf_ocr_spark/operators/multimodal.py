"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, decoded/feature-extracted by per-media rows
functions mapped through the pipeline's one Arrow adapter
(``extract_job.arrow_map``; a media row whose decode raises drops alone).

The sandbox has no image/audio codecs, so the decode step is a
deterministic fake behind the same interface a real decoder would use
(clearly marked below); the Spark-side plumbing — schema, partitioning,
UDF signature, batch shape — is real and tested.  This mirrors how the
reference treats page rasters: opaque bytes flowing into an inference
call (/root/reference/pdf_ocr_with_silicon_remote_vllm.py:95-125 builds a
base64 data URI from raw image bytes without decoding them either).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pdf_ocr_spark.pipeline.extract_job import arrow_map, per_doc

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def media_metadata(media: DataFrame, id_col: str = "media_id", blob_col: str = "blob") -> DataFrame:
    """Typed metadata over an opaque binary column — pure built-ins
    (never decodes), so Catalyst prunes the blob out of any query that
    only needs the metadata."""
    return media.select(
        F.col(id_col).alias("media_id"),
        F.when(
            F.substring(F.col(blob_col), 1, 5) == F.lit(b"%PDF-"), F.lit("application/pdf")
        )
        .when(F.substring(F.col(blob_col), 1, 3) == F.lit(b"\xff\xd8\xff"), F.lit("image/jpeg"))
        .when(F.substring(F.col(blob_col), 1, 4) == F.lit(b"\x89PNG"), F.lit("image/png"))
        .otherwise(F.lit("application/octet-stream"))
        .alias("mime"),
        F.length(F.col(blob_col)).cast("long").alias("n_bytes"),
        F.sha1(F.col(blob_col)).alias("sha1"),
    )


def _fake_decode_features(blob: bytes, n_frames: int = 4, dim: int = 8):
    """DETERMINISTIC FAKE of the decode/feature-extract step.

    A real deployment replaces this one function with e.g. a PIL/ffmpeg
    decode + model embed; everything around it (batching, schema,
    partition shape) stays identical.  Raises on empty payloads the way a
    real decoder raises on corrupt media."""
    if not blob:
        raise NotImplementedError("real media decode requires codec libraries")
    out = []
    for f in range(n_frames):
        h = hashlib.blake2b(blob, digest_size=dim, salt=bytes([f])).digest()
        out.append([round(b / 255.0, 6) for b in h])
    return out


@per_doc()
def _frame_rows(media_id, blob):
    """Frame decode: 1 media row → n_frames feature rows (the UDTF-like
    fan-out shape of SURVEY.md §2.10)."""
    for i, f in enumerate(_fake_decode_features(blob)):
        yield media_id, i, f


def decode_frames(media: DataFrame, id_col: str = "media_id", blob_col: str = "blob") -> DataFrame:
    return media.select(
        F.col(id_col).alias("media_id"), F.col(blob_col).alias("blob")
    ).mapInArrow(arrow_map(_frame_rows, FRAME_SCHEMA), FRAME_SCHEMA)


def sample_frames(
    frames: DataFrame,
    every_nth: int = 2,
    offset: int = 0,
    idx_col: str = "frame_idx",
) -> DataFrame:
    """Frame sampling — pure built-in filter on the frame index, so it
    composes with (and pushes past) the decode fan-out when frames are
    already materialized as a table."""
    return frames.filter(F.pmod(F.col(idx_col) - offset, F.lit(every_nth)) == 0)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("thumb", BinaryType()),
        StructField("thumb_bytes", LongType()),
    ]
)


def _fake_resize(blob: bytes, max_side: int = 64):
    """DETERMINISTIC FAKE of the image resize step (real deployment:
    PIL/turbojpeg decode → resample → re-encode; the batching and schema
    stay identical).  Emits stable pseudo-dimensions derived from the
    payload and a content-preserving 'thumbnail' (truncated digest-keyed
    slice), raising on empty payloads like a real decoder."""
    if not blob:
        raise NotImplementedError("real image resize requires codec libraries")
    w = 320 + blob[0] * 4
    h = 240 + blob[-1] * 3
    scale = max_side / max(w, h)
    tw, th = max(1, int(w * scale)), max(1, int(h * scale))
    thumb = hashlib.blake2b(blob, digest_size=32).digest() + blob[: max_side * 4]
    return tw, th, thumb


@per_doc()
def _resize_rows(media_id, blob):
    """Resize: binary in → (dims, binary thumb) out."""
    tw, th, thumb = _fake_resize(blob)
    yield media_id, tw, th, thumb, len(thumb)


def resize_media(media: DataFrame, id_col: str = "media_id", blob_col: str = "blob") -> DataFrame:
    return media.select(
        F.col(id_col).alias("media_id"), F.col(blob_col).alias("blob")
    ).mapInArrow(arrow_map(_resize_rows, RESIZE_SCHEMA), RESIZE_SCHEMA)

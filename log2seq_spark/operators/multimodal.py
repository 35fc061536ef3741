"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

Decode paths, selected by capability:

* ``decode="fake"`` (test default) derives a deterministic feature
  vector from the bytes themselves (md5-seeded), so pipelines and tests
  run end-to-end with stable outputs anywhere;
* ``decode="real"`` decodes for real — images via PIL (guarded by
  import availability), WAV audio via the stdlib ``wave`` module (always
  available); video needs ffmpeg and raises a clear error;
* ``decode="auto"`` picks ``real`` when PIL is importable, else
  ``fake``.

At scale: media rows are wide — keep ``spark.sql.files.maxPartitionBytes``
small for balanced partitions, and always select the metadata columns
WITHOUT the binary payload when only metadata is needed (column pruning
keeps the payload unread in parquet).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, FloatType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..functions.udf import _drop_zip_finders

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("content_hash", StringType()),
    StructField("feature", ArrayType(FloatType())),
    StructField("width", IntegerType()),          # fake-decoded metadata
    StructField("height", IntegerType()),
])


def _fake_decode(payload: bytes, media_type: str):
    """Deterministic stand-in for a real codec: md5-seeded features +
    plausible dimensions. Replace with PIL/soundfile/ffmpeg in `real`."""
    digest = hashlib.md5(payload).digest()
    rng = np.frombuffer(digest, dtype=np.uint8).astype(np.float32)
    feature = np.resize(rng, FEATURE_DIM) / 255.0
    width = 16 + int(digest[0]) % 240
    height = 16 + int(digest[1]) % 240
    return feature, width, height


def pil_available() -> bool:
    import importlib.util
    return importlib.util.find_spec("PIL") is not None


def _real_decode(payload: bytes, media_type: str):
    """Actual codec dispatch: PIL for images, stdlib ``wave`` for WAV
    audio. Returns (feature[FEATURE_DIM], width, height) where for audio
    width = n_channels and height = bit depth."""
    if media_type == "image":
        try:
            from PIL import Image
        except ImportError as e:
            raise ImportError(
                "decode='real' for images requires Pillow (pip install "
                "Pillow); use decode='fake' or 'auto' without it") from e
        import io
        img = Image.open(io.BytesIO(payload))
        width, height = img.size
        thumb = img.convert("L").resize((4, 4))
        feature = (np.asarray(thumb, dtype=np.float32).reshape(-1) / 255.0)
        return np.resize(feature, FEATURE_DIM), width, height
    if media_type == "audio":
        import io
        import wave
        with wave.open(io.BytesIO(payload)) as wf:
            n_ch = wf.getnchannels()
            depth = wf.getsampwidth() * 8
            frames = np.frombuffer(wf.readframes(wf.getnframes()),
                                   dtype=np.uint8).astype(np.float32)
        if frames.size == 0:
            return np.zeros(FEATURE_DIM, dtype=np.float32), n_ch, depth
        chunks = np.array_split(frames, FEATURE_DIM)
        feature = np.array([float(np.mean(np.abs(c - 128.0))) / 128.0
                            if c.size else 0.0 for c in chunks],
                           dtype=np.float32)
        return feature, n_ch, depth
    raise ValueError(
        f"no real decoder for media_type={media_type!r} here (video "
        "decode needs ffmpeg); use decode='fake'")


def extract_features(media: DataFrame, payload_col: str = "payload",
                     decode: str = "fake") -> DataFrame:
    """mapInPandas feature extraction over binary payloads. Arrow streams
    the binary column in bounded batches, so executor memory stays flat
    regardless of per-row payload size. ``decode`` selects the codec
    path: fake | real | auto (see module docstring)."""
    auto = decode == "auto"
    if auto:
        decode = "real" if pil_available() else "fake"
    if decode not in ("fake", "real"):
        raise ValueError(f"decode must be fake|real|auto, got {decode!r}")
    decoder = _real_decode if decode == "real" else _fake_decode
    # auto dispatches PER media_type: the real path has no video codec
    # (needs ffmpeg), so a global 'real' choice would crash on the first
    # video row of any mixed-modality table
    fallback = _fake_decode if auto else None

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _drop_zip_finders()
        for pdf in batches:
            feats, widths, heights, hashes, sizes = [], [], [], [], []
            for payload, mtype in zip(pdf[payload_col], pdf["media_type"]):
                data = bytes(payload) if payload is not None else b""
                dec = (fallback if fallback is not None
                       and mtype == "video" else decoder)
                f, w, h = dec(data, mtype)
                feats.append(np.asarray(f, dtype=np.float32).tolist())
                widths.append(w)
                heights.append(h)
                hashes.append(hashlib.md5(data).hexdigest())
                sizes.append(len(data))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pd.Series(sizes, dtype="int64"),
                "content_hash": hashes,
                "feature": pd.Series(feats, dtype=object),
                "width": pd.Series(widths, dtype="int32"),
                "height": pd.Series(heights, dtype="int32"),
            })

    return media.mapInPandas(_extract, schema=FEATURES_SCHEMA)


def frame_sample_plan(video: DataFrame, every_n: int = 30) -> DataFrame:
    """Plumbing for frame sampling: explode frame indices from metadata
    (n_frames) WITHOUT touching payloads — the decode of selected frames
    happens in extract_features on the exploded rows."""
    # guard n_frames < 1: sequence(0, -1, +step) is a runtime error
    # (ANSI or not), so one corrupt/empty video row would fail the job
    # instead of contributing no frames
    idxs = F.when(F.col("n_frames") >= 1,
                  F.sequence(F.lit(0), F.col("n_frames") - 1,
                             F.lit(every_n))) \
            .otherwise(F.array().cast("array<int>"))
    return video.select(
        "media_id", F.explode(idxs).alias("frame_idx"))


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests: payload bytes derived
    from the id."""
    df = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.pmod("id", F.lit(3)) + 1).cast("int")).alias("media_type"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string"),
                          F.repeat(F.lit("x"), (F.pmod("id", F.lit(100)) * 17
                                                ).cast("int"))),
                 "utf-8").alias("payload"))
    return df

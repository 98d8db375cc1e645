"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The decode libraries (PIL/ffmpeg/librosa) are NOT in this environment, so the
actual media decode is stubbed (clearly marked), while everything Spark-side
is real and tested: schemas, Arrow batch shapes, ``mapInPandas`` signatures,
partitioning. The stub "decoder" parses a deterministic fake header
(magic + width + height / sample metadata) so pipelines exercise realistic
data flow end-to-end.

Swap `_decode_image_batch` / `_decode_audio_batch` for real decoders on a
cluster with the media libs installed; nothing else changes.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "id long, format string, width int, height int, n_bytes long, valid boolean"
)
AUDIO_META_SCHEMA = (
    "id long, codec string, sample_rate int, n_samples long, n_bytes long, valid boolean"
)

FAKE_IMG_MAGIC = b"FIMG"
FAKE_AUD_MAGIC = b"FAUD"


def fake_image_bytes(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic fake image payload: header + seeded noise body."""
    body = np.random.RandomState(seed).bytes(min(width * height, 4096))
    return FAKE_IMG_MAGIC + struct.pack("<II", width, height) + body


def fake_audio_bytes(sample_rate: int, n_samples: int, seed: int = 0) -> bytes:
    body = np.random.RandomState(seed).bytes(min(n_samples * 2, 4096))
    return FAKE_AUD_MAGIC + struct.pack("<IQ", sample_rate, n_samples) + body


def _decode_image_batch(blob: pd.Series) -> pd.DataFrame:
    """STUB decode: parses the deterministic fake header. A real deployment
    replaces this body with PIL/turbojpeg; the signature and output schema
    stay identical.

    Vectorized (the byte_stats pattern): the candidates' first 12 bytes are
    packed into ONE (n, 12) uint8 matrix and the magic compare + both
    little-endian u32 reads happen as numpy column views — the only
    remaining per-row Python is the unavoidable header slice of each
    variable-length bytes object (the r5 version ran struct.unpack row by
    row). Output byte-identical to the loop form."""
    vals = blob.to_numpy()
    n = len(vals)
    nb = np.fromiter(
        (0 if b is None else len(b) for b in vals), dtype=np.int64, count=n
    )
    w = np.zeros(n, dtype=np.int64)
    h = np.zeros(n, dtype=np.int64)
    ok = np.zeros(n, dtype=bool)
    cand = nb >= 12
    if cand.any():
        heads = np.frombuffer(
            b"".join([b[:12] for b in vals[cand]]), dtype=np.uint8
        ).reshape(-1, 12)
        magic = (heads[:, :4] == np.frombuffer(FAKE_IMG_MAGIC, np.uint8)).all(axis=1)
        idx = np.flatnonzero(cand)[magic]
        ok[idx] = True
        w[idx] = heads[magic, 4:8].copy().view("<u4").ravel().astype(np.int64)
        h[idx] = heads[magic, 8:12].copy().view("<u4").ravel().astype(np.int64)
    fmt = np.where(ok, "fimg", None)
    return pd.DataFrame(
        {"format": pd.Series(fmt, dtype=object), "width": w, "height": h,
         "n_bytes": nb, "valid": ok}
    )


def image_metadata(df: DataFrame, id_col: str = "id", blob_col: str = "blob") -> DataFrame:
    """mapInPandas over (id, blob) → IMAGE_META_SCHEMA. Arrow-batched."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = _decode_image_batch(pdf[blob_col])
            meta.insert(0, "id", pdf[id_col].to_numpy())
            yield meta

    return df.select(F.col(id_col).alias("id"), F.col(blob_col)).mapInPandas(
        gen, IMAGE_META_SCHEMA
    )


def _decode_audio_batch(blob: pd.Series) -> pd.DataFrame:
    """Vectorized like _decode_image_batch: one (n, 16) header matrix,
    u32 sample-rate and u64 sample-count read as numpy column views."""
    vals = blob.to_numpy()
    n = len(vals)
    nb = np.fromiter(
        (0 if b is None else len(b) for b in vals), dtype=np.int64, count=n
    )
    sr = np.zeros(n, dtype=np.int64)
    ns = np.zeros(n, dtype=np.int64)
    ok = np.zeros(n, dtype=bool)
    cand = nb >= 16
    if cand.any():
        heads = np.frombuffer(
            b"".join([b[:16] for b in vals[cand]]), dtype=np.uint8
        ).reshape(-1, 16)
        magic = (heads[:, :4] == np.frombuffer(FAKE_AUD_MAGIC, np.uint8)).all(axis=1)
        idx = np.flatnonzero(cand)[magic]
        ok[idx] = True
        sr[idx] = heads[magic, 4:8].copy().view("<u4").ravel().astype(np.int64)
        ns[idx] = heads[magic, 8:16].copy().view("<u8").ravel().astype(np.int64)
    codec = np.where(ok, "faud", None)
    return pd.DataFrame(
        {"codec": pd.Series(codec, dtype=object), "sample_rate": sr,
         "n_samples": ns, "n_bytes": nb, "valid": ok}
    )


def audio_metadata(df: DataFrame, id_col: str = "id", blob_col: str = "blob") -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = _decode_audio_batch(pdf[blob_col])
            meta.insert(0, "id", pdf[id_col].to_numpy())
            yield meta

    return df.select(F.col(id_col).alias("id"), F.col(blob_col)).mapInPandas(
        gen, AUDIO_META_SCHEMA
    )


def frame_sample_plan(df: DataFrame, every_n: int, id_col: str = "id") -> DataFrame:
    """Video frame-sampling *plan*: emits (id, frame_idx) rows for a stub
    10-frame clip — the partition/explode shape of real frame sampling."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(9), F.lit(every_n))).alias("frame_idx"),
    )

"""Audio / video multimodal columns (training-data pipeline surface).

Same pattern as images (sources/images.py): media is an opaque BINARY
column with typed metadata; every transform is a row kernel run through
``operators.rowmap.map_rows`` (one ``mapInPandas`` stage), so the
plumbing — schemas, batch iteration, explode shapes, partitioning — is
real and tested.  Audio is no longer stub-only: genuine RIFF/WAVE PCM
bytes decode through the dependency-free numpy codec
(``functions/wav_numpy.py``, same move as the JPEG codec for images).  Neither is video: AVI/MJPEG files decode
through ``functions/avi_numpy.py`` (RIFF chunk walk + per-frame
baseline-JPEG decode).  soundfile/ffmpeg remain optional tiers for
formats outside those scopes (flac/ogg/mp4/webm).

Deterministic FAKE containers (self-describing byte formats) stand in
for real media so every operator is testable end-to-end:

    FAKEVID1 | n_frames u32 | width u32 | height u32 | frames raw u8
    FAKEAUD1 | sample_rate u32 | n_samples u32 | samples i16 LE
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from oracle_vector_search_spark.operators.rowmap import map_rows

VID_MAGIC = b"FAKEVID1"
AUD_MAGIC = b"FAKEAUD1"


# ------------------------------------------------------------ containers
def encode_fake_video(frames: np.ndarray) -> bytes:
    """frames: (n, h, w) uint8 grayscale."""
    n, h, w = frames.shape
    return VID_MAGIC + struct.pack("<III", n, w, h) + frames.tobytes()


def encode_fake_audio(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """samples: (n,) int16."""
    return (
        AUD_MAGIC
        + struct.pack("<II", sample_rate, len(samples))
        + samples.astype("<i2").tobytes()
    )


def _decode_video(b: bytes | None):
    if b is None or not b.startswith(VID_MAGIC) or len(b) < 20:
        if b is not None and b[:4] == b"RIFF" and b[8:12] == b"AVI ":
            # real AVI/MJPEG: dependency-free numpy tier (RIFF walker +
            # per-frame baseline-JPEG decode, functions/avi_numpy.py)
            from oracle_vector_search_spark.functions.avi_numpy import (
                decode_avi_mjpeg,
            )

            dec = decode_avi_mjpeg(b)
            return None if dec is None else dec[1]
        if b is not None and not b.startswith(VID_MAGIC):
            # other real containers (mp4/webm/...) need ffmpeg — not here
            return None  # NotImplemented: treated as undecodable (F3)
        return None
    n, w, h = struct.unpack("<III", b[8:20])
    body = b[20:]
    if n * w * h == 0 or len(body) != n * w * h:
        return None
    return np.frombuffer(body, dtype=np.uint8).reshape(n, h, w)


def _decode_audio(b: bytes | None):
    if b is None:
        return None
    if b.startswith(b"RIFF"):
        # real WAV: dependency-free numpy tier (functions/wav_numpy.py,
        # deterministic floor-mean downmix) — preferred over soundfile
        # so CI and production decode identically
        from oracle_vector_search_spark.functions.wav_numpy import (
            decode_wav,
        )

        dec = decode_wav(b)
        if dec is not None:
            return dec
        # fall through: maybe a WAV variant only soundfile understands
    if not b.startswith(AUD_MAGIC):
        try:  # other real containers (flac/ogg) when soundfile is present
            import io

            import soundfile as sf

            data, sr = sf.read(io.BytesIO(b), dtype="int16")
            if data.ndim > 1:  # downmix to mono like the FAKE codec shape
                data = data.mean(axis=1).astype("int16")
            return int(sr), data
        except Exception:
            return None  # undecodable / no decoder — F3 drop
    if len(b) < 16:
        return None
    sr, n = struct.unpack("<II", b[8:16])
    body = b[16:]
    if n == 0 or len(body) != 2 * n:
        return None
    return sr, np.frombuffer(body, dtype="<i2")


# ------------------------------------------------------------- operators
def video_frame_sample(df: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling (1→N, UDTF shape): every k-th frame becomes a row
    (id, frame_idx, width, height, frame BINARY). Undecodable videos
    drop (F3 semantics)."""

    def sample(vid, content):
        frames = _decode_video(None if content is None else bytes(content))
        if frames is None:
            return []
        n, h, w = frames.shape
        return [
            (vid, i, w, h, frames[i].tobytes()) for i in range(0, n, every_k)
        ]

    return map_rows(
        df,
        sample,
        "id long, frame_idx int, width int, height int, frame binary",
        ["id", "content"],
    )


def resize_frames(
    df: DataFrame, out_w: int, out_h: int, frame_col: str = "frame"
) -> DataFrame:
    """Nearest-neighbor resize of grayscale frames (numpy index grid —
    deterministic, no interpolation library)."""
    fb, w, h = (df.columns.index(n) for n in (frame_col, "width", "height"))

    def resize(*row):
        out = list(row)
        out[w], out[h] = out_w, out_h
        if row[fb] is not None:
            arr = np.frombuffer(bytes(row[fb]), np.uint8).reshape(
                int(row[h]), int(row[w])
            )
            yi = (np.arange(out_h) * row[h] // out_h).astype(int)
            xi = (np.arange(out_w) * row[w] // out_w).astype(int)
            out[fb] = arr[np.ix_(yi, xi)].tobytes()
        return [tuple(out)]

    return map_rows(df, resize, df.schema)


def decode_audio_samples(df: DataFrame) -> DataFrame:
    """(id, content BINARY) → (id, sample_rate, samples ARRAY<INT>):
    the decoded mono PCM as a COLUMN, so downstream feature math stays
    in Catalyst higher-order functions (aggregate/zip_with/transform —
    JVM-side, whole-stage-codegen'd) instead of Python. Real WAV bytes
    take the numpy codec tier; FAKEAUD1 takes the test container;
    undecodable rows drop (F3)."""

    def decode(aid, content):
        dec = _decode_audio(None if content is None else bytes(content))
        if dec is None:
            return []
        sr, x = dec
        return [(aid, int(sr), x.astype(np.int32).tolist())]

    return map_rows(
        df, decode, "id long, sample_rate int, samples array<int>",
        ["id", "content"],
    )


def audio_features(df: DataFrame) -> DataFrame:
    """Per-clip acoustic features: duration, RMS, zero-crossing rate,
    peak — the deterministic stand-ins for MFCC-style extraction
    (librosa plugs in behind the same schema)."""

    def features(aid, content):
        dec = _decode_audio(None if content is None else bytes(content))
        if dec is None:
            return []
        sr, x = dec
        n = len(x)
        xf = x.astype(np.float64)
        zc = int(np.sum(np.abs(np.diff(np.signbit(xf))))) if n > 1 else 0
        return [(
            aid,
            int(sr),
            n,
            round(n / sr, 6),
            round(float(np.sqrt(np.mean(xf * xf))), 6),
            round(zc / max(n - 1, 1), 6),
            int(np.max(np.abs(xf))) if n else 0,
        )]

    return map_rows(
        df,
        features,
        "id long, sample_rate int, n_samples long, duration_sec double, "
        "rms double, zero_crossing_rate double, peak int",
        ["id", "content"],
    )

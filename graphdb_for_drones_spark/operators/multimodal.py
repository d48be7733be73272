"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side machinery (schemas, batch iteration, partition sizing) is
real and tested; the actual media decoding is STUBBED — the image/audio
libraries are not in this container.  ``decode=fake`` produces a
deterministic fake decode (dimensions/samples derived from the bytes) so
pipelines are testable end-to-end; ``decode=strict`` raises
NotImplementedError where a real Pillow/ffmpeg call would go.

Scale notes: media rows are large and skew-prone — the entry point
repartitions by a hash of the id so one executor never accumulates the
big-object tail, and batches flow through Arrow with
``maxRecordsPerBatch`` kept small (set
``spark.sql.execution.arrow.maxRecordsPerBatch`` ~64 for >MB blobs).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from graphdb_for_drones_spark.local_frame import local_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("source", StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("phash", LongType()),
    ]
)


def _fake_decode(content: bytes) -> tuple[int, int]:
    """Deterministic fake dimensions from the byte stream (stub for a
    real image decode)."""
    n = len(content)
    return (64 + n % 512, 64 + (n // 7) % 512)


def _real_image_features(b: bytes) -> tuple[int, int, int]:
    """Pillow decode + 64-bit average-hash (the classic aHash: 8x8
    grayscale downsample, bit = pixel > mean).  Raises
    NotImplementedError when Pillow is absent (this container)."""
    try:
        from io import BytesIO

        from PIL import Image
    except ImportError as e:  # pragma: no cover - Pillow absent here
        raise NotImplementedError(
            "decode='real' requires Pillow (pip install pillow); use "
            "decode='fake' in environments without it"
        ) from e
    img = Image.open(BytesIO(b))
    w, h = img.size
    small = img.convert("L").resize((8, 8))
    px = list(small.getdata())
    mean = sum(px) / 64
    bits = 0
    for i, v in enumerate(px):
        if v > mean:
            bits |= 1 << i
    if bits >= 1 << 63:
        bits -= 1 << 64
    return w, h, bits


def extract_image_features(
    media: DataFrame, decode: str = "fake"
) -> DataFrame:
    """Decode + feature-extract images via mapInPandas.

    decode='fake': deterministic stand-in; decode='real': Pillow decode +
    average-hash (NotImplementedError when Pillow is absent);
    decode='strict': raise where the real decoder would run."""
    if decode not in ("fake", "strict", "real"):
        raise ValueError(decode)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if decode == "strict":
                raise NotImplementedError(
                    "real image decoding requires Pillow; not available "
                    "in this environment (use decode='fake')"
                )
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                if decode == "real":
                    w, h, ph = _real_image_features(b)
                else:
                    w, h = _fake_decode(b)
                    # 64-bit perceptual-hash stand-in: stable byte hash
                    import hashlib

                    ph = int.from_bytes(
                        hashlib.blake2b(b, digest_size=8).digest(),
                        "big",
                        signed=True,
                    )
                rows.append((media_id, w, h, len(b), ph))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "n_bytes", "phash"]
            )

    balanced = media.filter((F.col("kind") == "image") & F.col("content").isNotNull()).repartition(
        F.col("media_id")
    )
    return balanced.mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


def _avi_raw_frames(b: bytes) -> list[bytes]:
    """Pure-stdlib RIFF/AVI walk: return the payloads of uncompressed
    (``00db``-style) video frame chunks, in stream order.  Mirrors the
    WAV path for audio — a REAL container decode with no optional
    dependency.  Returns [] when the AVI holds only codec-compressed
    (``..dc``) frames; those need ffmpeg."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not an AVI container")
    frames: list[bytes] = []

    def walk(off: int, end: int) -> None:
        while off + 8 <= end:
            fourcc = b[off : off + 4]
            size = int.from_bytes(b[off + 4 : off + 8], "little")
            start = off + 8
            if fourcc == b"LIST":
                walk(start + 4, start + size)
            elif fourcc[2:4] == b"db":  # uncompressed DIB frame chunk
                frames.append(b[start : start + size])
            off = start + size + (size & 1)  # chunks are even-aligned

    walk(12, len(b))
    return frames


def _ffmpeg_frames(b: bytes, max_frames: int) -> list[bytes]:
    """Frame extraction via an ffmpeg subprocess (any container/codec):
    decode up to ``max_frames`` frames to PNG files in a temp dir and
    return their bytes.  Raises NotImplementedError when the binary is
    absent (this container)."""
    import glob
    import os
    import shutil
    import subprocess
    import tempfile

    if shutil.which("ffmpeg") is None:  # pragma: no cover - absent here
        raise NotImplementedError(
            "decode='real' for codec-compressed video requires ffmpeg on "
            "PATH; use decode='fake' in environments without it"
        )
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "in.bin")
        with open(src, "wb") as fh:
            fh.write(b)
        subprocess.run(
            ["ffmpeg", "-v", "error", "-i", src, "-frames:v",
             str(max_frames), os.path.join(td, "f_%05d.png")],
            check=True,
            capture_output=True,
        )
        return [
            open(p, "rb").read()
            for p in sorted(glob.glob(os.path.join(td, "f_*.png")))
        ]


def _real_video_frames(b: bytes, max_frames: int) -> list[tuple[int, bytes]]:
    """(source_frame_idx, frame_bytes) pairs, uniformly sampled down to
    ``max_frames``.  Uncompressed AVI decodes in-process via the stdlib
    RIFF walk; anything else goes through ffmpeg."""
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        frames = _avi_raw_frames(b)
        if not frames:  # compressed payload → needs a codec
            frames = _ffmpeg_frames(b, max_frames)
            return list(enumerate(frames))
    else:
        return list(enumerate(_ffmpeg_frames(b, max_frames)))
    if len(frames) <= max_frames:
        return list(enumerate(frames))
    # uniform temporal sample, keeping the SOURCE index
    idxs = [i * len(frames) // max_frames for i in range(max_frames)]
    return [(i, frames[i]) for i in idxs]


def sample_frames(
    media: DataFrame,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
    decode: str = "fake",
) -> DataFrame:
    """Video frame-sampling: emits (media_id, frame_idx, frame_bytes)
    rows — one input row fanning out to ≤``max_frames`` output rows
    through mapInPandas.

    decode='fake': deterministic byte slices (stub).  decode='real':
    uncompressed AVI decodes via a pure-stdlib RIFF walk (exercised
    in-container, like the WAV audio path); other containers/codecs run
    through an ffmpeg subprocess (NotImplementedError when the binary is
    absent).  ``frame_idx`` is the SOURCE frame index under real decode,
    so a sampled row names the frame it came from."""
    if decode not in ("fake", "real"):
        raise ValueError(decode)
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                if decode == "real":
                    for i, frame in _real_video_frames(b, max_frames):
                        rows.append((media_id, i, frame))
                else:
                    for i in range(
                        min(max_frames, max(len(b) // every_n_bytes, 1))
                    ):
                        rows.append(
                            (media_id, i,
                             b[i * every_n_bytes : (i + 1) * every_n_bytes])
                        )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return (
        media.filter((F.col("kind") == "video") & F.col("content").isNotNull())
        .repartition(F.col("media_id"))
        .mapInPandas(batches, out_schema)
    )


def synthetic_avi(
    n_frames: int = 6, width: int = 4, height: int = 3, seed: int = 0
) -> tuple[bytes, list[bytes]]:
    """Minimal uncompressed AVI (RIFF → hdrl(avih) + movi(00db…)) built
    with struct only — a REAL container for the stdlib decode path.
    Returns (avi_bytes, raw_frame_payloads)."""
    import struct

    frame_size = width * height * 3  # RGB24
    frames = [
        bytes((seed * 31 + f * 7 + i) % 256 for i in range(frame_size))
        for f in range(n_frames)
    ]

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def list_chunk(list_type: bytes, payload: bytes) -> bytes:
        data = list_type + payload
        return b"LIST" + struct.pack("<I", len(data)) + data

    avih = (
        struct.pack(
            "<10I", 33333, 0, 0, 0, n_frames, 0, 1, frame_size, width, height
        )
        + b"\x00" * 16
    )
    hdrl = list_chunk(b"hdrl", chunk(b"avih", avih))
    movi = list_chunk(b"movi", b"".join(chunk(b"00db", f) for f in frames))
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload, frames


def fake_media_table(spark, n: int = 32, kind: str = "image") -> DataFrame:
    """Deterministic fixture media table (binary payloads from a seeded
    byte pattern)."""
    rows = [
        (
            i,
            kind,
            bytes((i * 7 + j) % 256 for j in range(256 + i * 13)),
            f"{kind}/fake",
            f"src{i % 4}",
        )
        for i in range(n)
    ]
    return local_rows(spark, rows, MEDIA_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content", BinaryType()),
    ]
)


def resize_images(
    media: DataFrame, target_w: int = 224, target_h: int = 224,
    decode: str = "fake",
) -> DataFrame:
    """Resize plumbing: mapInPandas pass emitting fixed-dimension
    payloads.  decode='fake': deterministic byte truncation/padding stub;
    decode='real': Pillow open → resize → PNG bytes (NotImplementedError
    when Pillow is absent).  The Spark-side contract — binary in,
    (id, w, h, binary) out, Arrow batches, per-media_id balancing — is
    identical either way."""
    if decode not in ("fake", "real"):
        raise ValueError(decode)
    n_out = (target_w * target_h) // 64  # stand-in payload size

    def _real_resize(b: bytes) -> bytes:
        try:
            from io import BytesIO

            from PIL import Image
        except ImportError as e:  # pragma: no cover - Pillow absent here
            raise NotImplementedError(
                "decode='real' requires Pillow; use decode='fake'"
            ) from e
        buf = BytesIO()
        Image.open(BytesIO(b)).resize((target_w, target_h)).save(buf, "PNG")
        return buf.getvalue()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                if decode == "real":
                    out = _real_resize(b)
                else:
                    out = (b * (n_out // max(len(b), 1) + 1))[:n_out]
                rows.append((media_id, target_w, target_h, out))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "content"]
            )

    return (
        media.filter((F.col("kind") == "image") & F.col("content").isNotNull())
        .repartition(F.col("media_id"))
        .mapInPandas(batches, RESIZED_SCHEMA)
    )


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("duration_ms", LongType()),
        StructField("rms", LongType()),
    ]
)


def _real_audio_features(b: bytes) -> tuple[int, int]:
    """(duration_ms, rms) from a WAV payload via the stdlib ``wave``
    module + numpy — a REAL decode path that needs no extra packages
    (non-WAV formats would go through soundfile/librosa here)."""
    import wave
    from io import BytesIO

    import numpy as np

    with wave.open(BytesIO(b)) as w:
        n = w.getnframes()
        rate = w.getframerate()
        width = w.getsampwidth()
        frames = w.readframes(n)
    duration_ms = int(n / rate * 1000)
    if width == 2:
        samples = np.frombuffer(frames, dtype="<i2").astype("f8")
    elif width == 1:
        samples = np.frombuffer(frames, dtype="u1").astype("f8") - 128.0
    else:
        raise NotImplementedError(f"sample width {width} not supported")
    rms = int(np.sqrt(np.mean(samples**2))) if len(samples) else 0
    return duration_ms, rms


def extract_audio_features(
    media: DataFrame, bytes_per_ms: int = 16, decode: str = "fake"
) -> DataFrame:
    """Audio feature plumbing.  decode='fake': duration from byte length
    at a nominal rate, RMS stand-in = mean byte value.  decode='real':
    stdlib WAV decode (true frame count / sample RMS) — real decoding
    without any optional dependency; other codecs would plug in
    soundfile/librosa at the same seam."""
    if decode not in ("fake", "real"):
        raise ValueError(decode)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                if decode == "real":
                    duration_ms, rms = _real_audio_features(b)
                else:
                    duration_ms = len(b) // bytes_per_ms
                    rms = sum(b) // len(b) if b else 0
                rows.append((media_id, len(b), duration_ms, rms))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_bytes", "duration_ms", "rms"]
            )

    return (
        media.filter((F.col("kind") == "audio") & F.col("content").isNotNull())
        .repartition(F.col("media_id"))
        .mapInPandas(batches, AUDIO_FEATURES_SCHEMA)
    )

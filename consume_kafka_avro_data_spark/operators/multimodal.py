"""Multimodal columns (charter U8): image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

Convention: one row per asset —

    asset_id long, modality string, media binary,
    meta struct<mime string, width int, height int, duration_ms long>

Two codecs:

* ``codec="real"`` — PURE-PYTHON decoders for the two container-friendly
  formats: WAV (RIFF/PCM-16, ``struct``-parsed) and PPM (P6 binary RGB,
  numpy).  Real header parsing and real sample/pixel extraction — no
  external media library needed, and the byte→feature path is
  deterministic, so the WAV/PPM queries are fully
  DuckDB-oracle-checked (the synthesized assets are closed-form
  functions of testdata columns).  JPEG/MP4-class formats still need a
  PIL/libav dependency; they raise ``ValueError`` at the same seam.
* ``codec="fake"`` — deterministic stand-in (FNV-1a-seeded unit vector)
  for exercising downstream similarity/dedup plumbing on arbitrary
  bytes.

Scale notes: media bytes never leave the executor — ``mapInPandas``
streams Arrow batches; ``frames_per_asset``-style explosion happens
inside the generator so peak memory is one batch, not one asset list.
Keep ``spark.sql.files.maxPartitionBytes`` moderate when assets are
large (a 128 MB parquet partition of 1 MB blobs ⇒ ~128 rows/task).
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from consume_kafka_avro_data_spark._serde import self_contained

MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("media", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), True),
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("duration_ms", LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), True),
        StructField("features", ArrayType(FloatType()), True),
        StructField("n_bytes", LongType(), True),
    ]
)


def _fnv1a64(data: bytes) -> int:
    h = 0xCBF29CE484222325
    for byte in data:
        h ^= byte
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _fake_decode(data: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for decode→feature-extract: a unit vector
    seeded by the payload hash.  Identical bytes ⇒ identical features,
    so exact/near-dup semantics downstream stay meaningful."""
    rng = np.random.default_rng(_fnv1a64(data))
    v = rng.standard_normal(dim)
    return (v / np.linalg.norm(v)).astype(np.float32)


# ---------------------------------------------------------------------------
# real pure-Python codecs: WAV (RIFF/PCM-16) and PPM (P6)
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV from an int16 sample array — canonical
    44-byte RIFF header + data chunk."""
    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    hdr = b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + _struct.pack(
        "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    return hdr + fmt + b"data" + _struct.pack("<I", len(data)) + data


def decode_wav(data: bytes) -> dict:
    """Parse a RIFF/WAVE byte string: walks the chunk list, requires
    PCM (format tag 1) 16-bit, returns sample_rate, channels and the
    int16 sample array.  Raises ValueError on malformed input — the
    decode-failure path the DLQ routing consumes."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = _struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            # check the BYTES PRESENT, not the declared size — a
            # truncated stream can declare size>=16 with a short body,
            # and struct.error would escape the ValueError DLQ contract
            if len(body) < 16:
                raise ValueError("fmt chunk too short")
            fmt = _struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("missing fmt or data chunk")
    tag, channels, rate, _byte_rate, _align, bits = fmt
    if tag != 1 or bits != 16:
        raise ValueError(f"unsupported WAV encoding (tag={tag}, bits={bits})")
    if rate <= 0:
        # a zero rate would later ZeroDivisionError out of the
        # duration computation, escaping the ValueError/DLQ contract
        raise ValueError(f"invalid WAV sample rate {rate}")
    if channels < 1:
        # same contract: channels=0 would ZeroDivisionError out of the
        # frames-per-channel duration computation downstream
        raise ValueError(f"invalid WAV channel count {channels}")
    samples = np.frombuffer(raw[: len(raw) - (len(raw) % 2)], dtype="<i2")
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "samples": samples,
    }


def encode_ppm(pixels: np.ndarray) -> bytes:
    """P6 binary PPM from a (h, w, 3) uint8 array."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def decode_ppm(data: bytes) -> dict:
    """Parse a P6 binary PPM (whitespace/comment-tolerant header) into
    a (h, w, 3) uint8 pixel array.  Raises ValueError when malformed."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM stream")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    if w <= 0 or h <= 0:
        # numpy reshape treats a single negative dim as inferred -1, so
        # negative header dims would otherwise decode to garbage shapes
        raise ValueError(f"invalid PPM dimensions {w}x{h}")
    need = w * h * 3
    raw = data[pos : pos + need]
    if len(raw) < need:
        raise ValueError(f"PPM body truncated ({len(raw)} < {need} bytes)")
    return {
        "width": w,
        "height": h,
        "pixels": np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3),
    }


def _real_decode(data: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real byte→feature extraction, format-dispatched on magic bytes:

    * WAV  → first ``dim`` samples scaled to [-1, 1] (zero-padded);
    * PPM  → ``dim``-bin grayscale histogram (fractions summing to 1);
    * else → ``dim``-bin byte-value histogram (the honest content
      summary for payloads with no decodable structure, e.g. text).
    """
    if data[:4] == b"RIFF":
        s = decode_wav(data)["samples"].astype(np.float64) / 32768.0
        out = np.zeros(dim)
        out[: min(dim, len(s))] = s[:dim]
        return out.astype(np.float32)
    if data[:2] == b"P6":
        px = decode_ppm(data)["pixels"]
        gray = px.astype(np.float64).mean(axis=2)
        hist, _ = np.histogram(gray, bins=dim, range=(0.0, 256.0))
        return (hist / max(gray.size, 1)).astype(np.float32)
    hist = np.bincount(np.frombuffer(data, dtype=np.uint8), minlength=256)
    return (
        hist.reshape(dim, 256 // dim).sum(axis=1) / max(len(data), 1)
    ).astype(np.float32)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for the testdata: treat each document's UTF-8 bytes as an
    opaque media payload so the multimodal plumbing has real rows."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("modality"),
        F.encode(F.col("text"), "utf-8").alias("media"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def decode_features(media: DataFrame, codec: str = "real") -> DataFrame:
    """media rows → feature vectors via mapInPandas (Arrow batches).

    ``codec="real"`` runs the pure-Python decoders (:func:`decode_wav`,
    :func:`decode_ppm`, byte-histogram fallback — see
    :func:`_real_decode`); ``codec="fake"`` keeps the deterministic
    hash-seeded stand-in for plumbing tests on arbitrary bytes.
    """
    if codec == "real":
        decode = _real_decode
    elif codec == "fake":
        decode = _fake_decode
    else:
        raise ValueError(f"unknown codec {codec!r}")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "features": [
                        None if b is None else decode(bytes(b)).tolist()
                        for b in pdf["media"]
                    ],
                    "n_bytes": [
                        0 if b is None else len(b) for b in pdf["media"]
                    ],
                }
            )

    return media.mapInPandas(gen, schema=_FEATURES_SCHEMA)


_WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("peak", IntegerType(), True),
        StructField("sum_sq", LongType(), True),
        StructField("rms", DoubleType(), True),
    ]
)


def wav_feature_table(media: DataFrame) -> DataFrame:
    """Real WAV decode → audio summary features, all derived from the
    DECODED samples (so a header/endianness/parsing bug shows up as a
    value mismatch): sample count, rate, integer duration, peak |s|,
    exact Σs² (int64 — engine-independent), and rms = sqrt(Σs²/n).
    One Arrow batch in, one out; bytes never leave the executor."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf["asset_id"], pdf["media"]):
                if blob is None:  # NULL media → NULL features (the
                    # decode_features convention; bytes(None) would
                    # TypeError outside the ValueError/DLQ contract).
                    # Explicit Nones keep the pandas column object-typed
                    # so Arrow converts to nullable ints, not NaN floats
                    rows.append(
                        {f.name: (aid if f.name == "asset_id" else None)
                         for f in _WAV_FEATURES_SCHEMA}
                    )
                    continue
                w = decode_wav(bytes(blob))
                s = w["samples"].astype(np.int64)
                n = len(s)
                ssq = int((s * s).sum())
                rows.append(
                    {
                        "asset_id": aid,
                        # n_samples / peak / sum_sq / rms are over ALL
                        # interleaved samples; duration is wall-clock,
                        # so it counts FRAMES (samples per channel) —
                        # a stereo file is not twice as long as a mono
                        # one with the same frame count
                        "n_samples": n,
                        "sample_rate": w["sample_rate"],
                        "duration_ms": (n // w["channels"]) * 1000
                        // w["sample_rate"],
                        "peak": int(np.abs(s).max()) if n else 0,
                        "sum_sq": ssq,
                        "rms": float(np.sqrt(ssq / n)) if n else 0.0,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _WAV_FEATURES_SCHEMA])

    return media.mapInPandas(gen, schema=_WAV_FEATURES_SCHEMA)


_PPM_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_pixels", LongType(), True),
        StructField("sum_byte", LongType(), True),
        StructField("max_byte", IntegerType(), True),
    ]
)


def ppm_feature_table(media: DataFrame) -> DataFrame:
    """Real PPM decode → image summary features from the DECODED pixel
    array: geometry plus exact integer Σbyte / max byte (engine-
    independent, so the oracle can verify the whole decode path)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf["asset_id"], pdf["media"]):
                if blob is None:  # NULL media → NULL features
                    rows.append(
                        {f.name: (aid if f.name == "asset_id" else None)
                         for f in _PPM_FEATURES_SCHEMA}
                    )
                    continue
                p = decode_ppm(bytes(blob))
                px = p["pixels"].astype(np.int64)
                rows.append(
                    {
                        "asset_id": aid,
                        "width": p["width"],
                        "height": p["height"],
                        "n_pixels": p["width"] * p["height"],
                        "sum_byte": int(px.sum()),
                        "max_byte": int(px.max()) if px.size else 0,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _PPM_FEATURES_SCHEMA])

    return media.mapInPandas(gen, schema=_PPM_FEATURES_SCHEMA)


_FRAMES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for video-like payloads: split the byte stream into
    ``n_frames`` evenly spaced slices (stub for keyframe extraction) —
    one asset row fans out to n rows inside the Arrow batch generator."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for aid, blob in zip(pdf["asset_id"], pdf["media"]):
                if blob is None:
                    continue
                raw = bytes(blob)
                step = max(len(raw) // n_frames, 1)
                for i in range(n_frames):
                    ids.append(aid)
                    nos.append(i)
                    frames.append(raw[i * step : (i + 1) * step])
            yield pd.DataFrame({"asset_id": ids, "frame_no": nos, "frame": frames})

    return media.mapInPandas(gen, schema=_FRAMES_SCHEMA)


self_contained(__name__)

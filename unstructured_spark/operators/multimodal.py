"""Multimodal columns: image/audio/video as opaque ``binary`` with
typed metadata (SURVEY §2.1 partition_image/partition_audio rows and
the beyond-reference training-pipeline ops).

Design: media stays an opaque ``binary`` column; every operator is
``mapInPandas`` over Arrow batches so decoders/models initialize once
per executor. What ships here:

- :func:`probe_media` — REAL container sniffing: dimensions from
  PNG/JPEG/GIF/BMP/TIFF headers, duration/rate from WAV headers, all stdlib
  byte parsing (no PIL/ffmpeg needed).
- :func:`decode_image_features` — REAL pixel decode for PNG/BMP/GIF/
  baseline-JPEG via the dependency-free codec
  (``parsers/image_codec.py``) → luminance histogram features;
  undecodable rows yield null (per-row isolation). ``fake=True`` keeps
  a byte-histogram stand-in.
- :func:`resize_images` — decode → nearest-neighbor resize → PNG
  re-encode, zero image libraries required.
- :func:`sample_frame_offsets` — frame-sampling plumbing: computes the
  byte/time offsets a video decoder would seek to (uniform stride),
  returning one row per sampled frame (posexplode shape).
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unstructured_spark.parsers.image_codec import _tiff_ifds

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_seconds", T.DoubleType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)


def probe_bytes(data: bytes | None) -> dict:
    """Sniff container format + dimensions/duration from headers."""
    meta = {
        "format": None, "width": None, "height": None,
        "duration_seconds": None, "sample_rate": None, "channels": None,
        "size_bytes": len(data) if data is not None else None,
    }
    if not data or len(data) < 12:
        return meta
    try:
        return _probe_headers(data, meta)
    except (struct.error, IndexError):
        # truncated header: keep whatever was sniffed (per-row isolation)
        return meta


def _probe_headers(data: bytes, meta: dict) -> dict:
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        meta["format"] = "png"
        if data[12:16] == b"IHDR":
            meta["width"], meta["height"] = struct.unpack(">II", data[16:24])
    elif data[:3] == b"\xff\xd8\xff":
        meta["format"] = "jpeg"
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                i += 1
                continue
            marker = data[i + 1]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                meta["height"], meta["width"] = struct.unpack(
                    ">HH", data[i + 5 : i + 9]
                )
                break
            seglen = struct.unpack(">H", data[i + 2 : i + 4])[0]
            i += 2 + seglen
    elif data[:6] in (b"GIF87a", b"GIF89a"):
        meta["format"] = "gif"
        meta["width"], meta["height"] = struct.unpack("<HH", data[6:10])
    elif data[:2] == b"BM":
        meta["format"] = "bmp"
        meta["width"], meta["height"] = struct.unpack("<ii", data[18:26])
        meta["height"] = abs(meta["height"])
    elif data[:4] in (b"II*\x00", b"MM\x00*"):
        meta["format"] = "tiff"
        ifd = next(_tiff_ifds(data), {})
        if 256 in ifd and 257 in ifd:
            meta["width"], meta["height"] = ifd[256][0], ifd[257][0]
    elif data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        meta["format"] = "wav"
        # fmt chunk: channels@22, rate@24; data size from RIFF length
        if data[12:16] == b"fmt ":
            meta["channels"] = struct.unpack("<H", data[22:24])[0]
            meta["sample_rate"] = struct.unpack("<I", data[24:28])[0]
            bits = struct.unpack("<H", data[34:36])[0] or 16
            byte_rate = meta["sample_rate"] * meta["channels"] * bits // 8
            if byte_rate:
                meta["duration_seconds"] = round(
                    (len(data) - 44) / byte_rate, 6
                )
    elif data[4:8] == b"ftyp":
        meta["format"] = "mp4"
    return meta


def probe_media(
    df: DataFrame, *, content_col: str = "content", out_col: str = "media_meta"
) -> DataFrame:
    """Attach a typed metadata struct sniffed from media headers."""
    in_fields = [f for f in df.schema.fields if f.name != out_col]
    schema = T.StructType(in_fields + [T.StructField(out_col, MEDIA_META_SCHEMA)])
    names = [f.name for f in in_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[names].copy()
            out[out_col] = [
                probe_bytes(b if b is None or isinstance(b, bytes) else bytes(b))
                for b in pdf[content_col]
            ]
            yield out

    return df.select(*names).mapInPandas(run, schema=schema)


def decode_image_features(
    df: DataFrame,
    *,
    content_col: str = "content",
    out_col: str = "features",
    bins: int = 16,
    fake: bool = False,
) -> DataFrame:
    """Pixel decode → normalized luminance-histogram feature vector.

    REAL pixel decoding for PNG/BMP/GIF/JPEG (baseline+progressive)/
    TIFF (incl. CCITT fax) via the dependency-free codec
    (``parsers/image_codec.py``); undecodable rows (corrupt bytes,
    exotic variants) yield null features —
    per-row isolation, the corpus job never dies on one bad image.
    ``fake=True`` keeps the deterministic byte-histogram stand-in (no
    pixel decode at all) for plumbing tests.
    """
    in_fields = [f for f in df.schema.fields if f.name != out_col]
    schema = T.StructType(
        in_fields + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )
    names = [f.name for f in in_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from unstructured_spark.parsers.image_codec import (
            decode_image,
            luminance_histogram,
        )

        for pdf in batches:
            feats = []
            for b in pdf[content_col]:
                data = b if isinstance(b, bytes) else (bytes(b) if b is not None else b"")
                if fake:
                    hist = [0] * bins
                    for byte in data:
                        hist[byte * bins // 256] += 1
                    total = len(data) or 1
                    feats.append([h / total for h in hist])
                    continue
                try:
                    w, h, c, px = decode_image(data)
                    feats.append(luminance_histogram(w, h, c, px, bins=bins))
                except Exception:
                    feats.append(None)
            out = pdf[names].copy()
            out[out_col] = feats
            yield out

    return df.select(*names).mapInPandas(run, schema=schema)


def resize_images(
    df: DataFrame,
    *,
    new_width: int,
    new_height: int,
    content_col: str = "content",
    out_col: str = "thumbnail",
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode PNG, entirely in
    the pure-stdlib codec. Undecodable rows yield null (isolation).
    The classic thumbnail/normalize step of a multimodal training
    pipeline, runnable with zero image libraries on executors."""
    in_fields = [f for f in df.schema.fields if f.name != out_col]
    schema = T.StructType(in_fields + [T.StructField(out_col, T.BinaryType())])
    names = [f.name for f in in_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from unstructured_spark.parsers.image_codec import (
            decode_image,
            encode_png,
            resize_nearest,
        )

        for pdf in batches:
            thumbs = []
            for b in pdf[content_col]:
                data = b if isinstance(b, bytes) else (bytes(b) if b is not None else b"")
                try:
                    w, h, c, px = decode_image(data)
                    small = resize_nearest(w, h, c, px, new_width, new_height)
                    thumbs.append(encode_png(new_width, new_height, c, small))
                except Exception:
                    thumbs.append(None)
            out = pdf[names].copy()
            out[out_col] = thumbs
            yield out

    return df.select(*names).mapInPandas(run, schema=schema)


AUDIO_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("segment_index", T.IntegerType()),
        T.StructField("start_seconds", T.DoubleType()),
        T.StructField("end_seconds", T.DoubleType()),
        T.StructField("mean_rms_db", T.DoubleType()),
    ]
)


def segment_audio(
    df: DataFrame,
    *,
    content_col: str = "content",
    id_col: str = "doc_id",
    frame_ms: int = 30,
    threshold_db: float = -35.0,
    min_silence_ms: int = 300,
    min_segment_ms: int = 200,
) -> DataFrame:
    """Energy-VAD segmentation of WAV audio: one row per detected
    speech/sound segment (start/end seconds + mean RMS dB). REAL
    signal processing (stdlib wave + numpy, no model) — the
    pre-chunking stage a batch speech-to-text pipeline runs before
    the model; undecodable rows are skipped (per-row isolation)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from unstructured_spark.parsers.audio_parser import energy_segments, parse_wav

        for pdf in batches:
            rows = []
            for did, b in zip(pdf[id_col], pdf[content_col]):
                data = b if isinstance(b, bytes) else (bytes(b) if b is not None else b"")
                try:
                    rate, samples = parse_wav(data)
                except Exception:
                    continue
                segs = energy_segments(
                    samples,
                    rate,
                    frame_ms=frame_ms,
                    threshold_db=threshold_db,
                    min_silence_ms=min_silence_ms,
                    min_segment_ms=min_segment_ms,
                )
                for i, (t0, t1, db) in enumerate(segs):
                    rows.append(
                        {
                            "doc_id": str(did),
                            "segment_index": i,
                            "start_seconds": t0,
                            "end_seconds": t1,
                            "mean_rms_db": db,
                        }
                    )
            yield (
                pd.DataFrame(rows, columns=[f.name for f in AUDIO_SEGMENT_SCHEMA.fields])
                if rows
                else pd.DataFrame(columns=[f.name for f in AUDIO_SEGMENT_SCHEMA.fields])
            )

    return df.select(id_col, content_col).mapInPandas(run, schema=AUDIO_SEGMENT_SCHEMA)


def sample_frame_offsets(
    df: DataFrame,
    *,
    n_frames: int = 8,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per sampled frame: (doc, frame_index, byte_offset).

    This is the partitioning/explode plumbing of video frame sampling;
    the actual frame decode seeks to these offsets inside a codec-aware
    UDF on a cluster with ffmpeg available."""
    size = F.length(F.col(content_col)).cast("long")
    frames = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: F.struct(
            i.cast("int").alias("frame_index"),
            (size * i / F.lit(n_frames)).cast("long").alias("byte_offset"),
        ),
    )
    return (
        df.select(F.col(id_col), size.alias("size_bytes"), frames.alias("_f"))
        .select(id_col, "size_bytes", F.explode("_f").alias("frame"))
        .select(
            id_col,
            "size_bytes",
            F.col("frame.frame_index").alias("frame_index"),
            F.col("frame.byte_offset").alias("byte_offset"),
        )
    )


def dhash_from_pixels(w: int, h: int, c: int, px) -> int:
    """64-bit perceptual difference hash (dHash) of decoded pixels:
    grayscale → 9x8 nearest-neighbor downsample → bit (r*8+c) set when
    gray[r][c] < gray[r][c+1]. Returned in signed-int64 space (bit 63
    maps to the sign bit) so the value round-trips through a Spark
    LongType column and XOR/bit_count work unchanged."""
    gw, gh = 9, 8
    # grayscale nearest-neighbor downsample without numpy dependency
    # at call sites that already hold a buffer
    gray = [[0] * gw for _ in range(gh)]
    for r in range(gh):
        sr = r * h // gh
        for col in range(gw):
            sc = col * w // gw
            base = (sr * w + sc) * c
            vals = px[base : base + c]
            gray[r][col] = sum(vals) // max(len(vals), 1)
    v = 0
    for r in range(8):
        for col in range(8):
            if gray[r][col] < gray[r][col + 1]:
                v |= 1 << (r * 8 + col)
    return v - (1 << 64) if v >= 1 << 63 else v


def image_dhash(
    df: DataFrame,
    *,
    content_col: str = "content",
    out_col: str = "dhash",
) -> DataFrame:
    """Perceptual near-dup signature per image: REAL pixel decode via
    the dependency-free codec, then :func:`dhash_from_pixels`.
    Undecodable rows yield null (per-row isolation). Feed the result to
    ``dedup.hamming_pairs`` for the bucketed (never all-pairs)
    near-duplicate pair plan — the visual twin of simhash_pairs."""
    in_fields = [f for f in df.schema.fields if f.name != out_col]
    schema = T.StructType(in_fields + [T.StructField(out_col, T.LongType())])
    names = [f.name for f in in_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from unstructured_spark.parsers.image_codec import decode_image

        for pdf in batches:
            out_vals = []
            for b in pdf[content_col]:
                data = b if isinstance(b, bytes) else (bytes(b) if b is not None else b"")
                try:
                    w, h, c, px = decode_image(data)
                    out_vals.append(dhash_from_pixels(w, h, c, px))
                except Exception:
                    out_vals.append(None)
            out = pdf[names].copy()
            out[out_col] = pd.array(out_vals, dtype="Int64")
            yield out

    return df.select(*names).mapInPandas(run, schema=schema)

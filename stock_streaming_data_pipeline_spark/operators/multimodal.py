"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
processed with Arrow-batched ``mapInPandas`` operators.

PNG payloads get REAL decoding via the pure-stdlib codec in
``operators/png_codec.py`` (zlib inflate + scanline unfiltering + CRC
validation), JPEG — baseline grayscale and 4:2:0 / 4:2:2 / 4:4:4 YCbCr
color with optional restart markers, progressive grayscale and 4:4:4
color — via the one decoder ``jpeg_codec.decode_jpeg`` (marker walk +
Huffman + per-scan coefficient accumulation + dequant + IDCT + chroma
upsample), and WAV PCM16 via ``operators/wav_codec.py`` — each
exercised end-to-end by ``multimodal_*`` catalog queries with full
DuckDB oracles. Remaining codecs (compressed audio, video) raise
NotImplementedError — those libraries are not in this environment —
with a deterministic digest fake behind the same contract so the Spark
plumbing (schema, batch iterator shape, partition-size control) stays
testable for every media type.

Scale design (100 TB of media): payloads stay in executor-side Arrow
batches (never driver-collected); per-batch work is bounded by
``spark.sql.files.maxPartitionBytes`` on read and the Arrow batch size
(``spark.sql.execution.arrow.maxRecordsPerBatch``) inside mapInPandas —
decode cost is linear per partition and embarrassingly parallel.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stock_streaming_data_pipeline_spark.operators import (
    jpeg_codec,
    png_codec,
    wav_codec,
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes long, sha256 string, "
    "feat array<double>"
)


def decode_image(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Real image decode: ``(width, height, channels, pixels)``. PNG is
    decoded by the pure-stdlib codec (png_codec.decode_png); JPEG by
    jpeg_codec.decode_jpeg, the one decoder for baseline grayscale and
    4:2:0 / 4:2:2 / 4:4:4 color (with or without restart markers) and
    progressive grayscale and 4:4:4 color; other formats raise
    NotImplementedError until their codec libraries exist on
    executors."""
    if png_codec.is_png(payload):
        return png_codec.decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        w, h, ch, px = jpeg_codec.decode_jpeg(bytes(payload))
        return w, h, ch, bytearray(px)
    raise NotImplementedError(
        "only PNG and JPEG decoding are implemented (pure-stdlib codecs); "
        "other codecs are not installed in this environment"
    )


def fake_decode_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for decode+feature-extract: digest-derived
    pseudo-features. Same contract (bytes -> fixed-dim float vector)."""
    digest = hashlib.sha256(payload).digest()
    return [digest[i] / 255.0 for i in range(dim)]


def auto_decode_features(payload: bytes, dim: int = 8) -> list[float]:
    """Feature decoder: for a payload :func:`decode_image` reads (PNG, or
    JPEG baseline or progressive), REAL pixel features [width, height,
    channels, n_samples, mean/255, min/255, max/255, first_sample/255, ...]
    truncated/zero-padded to ``dim``; the digest fake for every other
    payload."""
    try:
        w, h, ch, px = decode_image(payload)
    except NotImplementedError:
        return fake_decode_features(payload, dim)
    n = len(px)
    feats = [
        float(w),
        float(h),
        float(ch),
        float(n),
        (sum(px) / n / 255.0) if n else 0.0,
        (min(px) / 255.0) if n else 0.0,
        (max(px) / 255.0) if n else 0.0,
        (px[0] / 255.0) if n else 0.0,
    ]
    return (feats + [0.0] * dim)[:dim]


def extract_features(media: DataFrame, *, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    The bytes→vector step is :func:`auto_decode_features`: it decodes PNG
    and JPEG payloads for real (pure-stdlib codecs, through
    :func:`decode_image`) and digest-fakes every other payload.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feat": payloads.map(
                        lambda b: auto_decode_features(b or b"", dim)
                    ),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def fake_resize_payload(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for the pixel-resample kernel: a
    digest-seeded byte string whose length scales with the target area
    (same contract: bytes → bytes, output size a function of target
    dims). The real kernel (PIL/opencv) raises until codecs exist."""
    seed = hashlib.sha256(payload + width.to_bytes(4, "big") + height.to_bytes(4, "big"))
    out_len = max(1, (width * height) // 64)
    block = seed.digest()
    return (block * (out_len // len(block) + 1))[:out_len]


def auto_resize_payload(payload: bytes, width: int, height: int) -> bytes:
    """Default resize kernel: REAL nearest-neighbor resample for PNG
    payloads (decode → index-map → re-encode, png_codec.resize_nearest),
    deterministic digest fake for formats whose codecs are absent."""
    if png_codec.is_png(payload):
        return png_codec.resize_nearest(payload, width, height)
    return fake_resize_payload(payload, width, height)


def resize_images(
    media: DataFrame,
    *,
    width: int,
    height: int,
    kernel=auto_resize_payload,
) -> DataFrame:
    """Batch image resize over opaque binary payloads: mapInPandas keeps
    payloads in executor-side Arrow batches (never driver-collected); the
    metadata struct is rewritten to the target dims so downstream
    operators see consistent typed metadata. ``kernel`` is the pluggable
    bytes→bytes pixel step — real for PNG via the stdlib codec, digest
    fake for codec-less formats."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["media_type"] == "image"]
            if not len(keep):
                continue
            yield pd.DataFrame(
                {
                    "media_id": keep["media_id"],
                    "payload": keep["payload"].map(
                        lambda b: kernel(b or b"", width, height)
                    ),
                    "media_type": keep["media_type"],
                    "meta": keep["meta"].map(
                        lambda m: {
                            "width": width,
                            "height": height,
                            "sample_rate": (m or {}).get("sample_rate", 0),
                            "n_frames": (m or {}).get("n_frames", 0),
                        }
                    ),
                }
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, *, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits one row per kept
    frame index based on metadata (the decode of the frame itself is the
    stubbed step). Pure built-ins — array expansion, no UDF. Frameless
    media (n_frames == 0 or NULL) emit no rows — there is no frame 0 to
    sample from an empty video."""
    frames = F.sequence(
        F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n)
    )
    return (
        media.filter(
            (F.col("media_type") == "video") & (F.col("meta.n_frames") > 0)
        )
        .select("media_id", F.explode(frames).alias("frame_idx"))
    )


def _text_media(
    docs: DataFrame, n_bytes: int, encode: Callable[[bytes], bytes],
    media_type: str, *,
    width: int = 0, height: int = 0, sample_rate: int = 0, n_frames: int = 0,
) -> DataFrame:
    """Media table derived from document text: each document's first
    ``n_bytes`` UTF-8 bytes (space-padded) become the payload
    ``encode(raw)``, encoded executor-side, with the given metadata.
    Because the payload is a deterministic function of the text,
    downstream decode results carry full DuckDB oracles — the
    differential check proves the codec round-trip, not just the
    plumbing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [
                        encode(t.encode("utf-8")[:n_bytes].ljust(n_bytes, b" "))
                        for t in pdf["text"]
                    ],
                    "media_type": media_type,
                    "meta": [
                        {
                            "width": width,
                            "height": height,
                            "sample_rate": sample_rate,
                            "n_frames": n_frames,
                        }
                    ]
                    * len(pdf),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(run, MEDIA_SCHEMA)


def documents_as_png_media(
    docs: DataFrame, *, width: int = 8, height: int = 8
) -> DataFrame:
    """REAL-PNG media table derived from document text: the first
    width*height bytes become a grayscale image encoded with the real
    encoder (png_codec.encode_png)."""
    return _text_media(
        docs, width * height,
        lambda raw: png_codec.encode_png(raw, width, height),
        "image", width=width, height=height,
    )


PIXEL_STATS_SCHEMA = (
    "media_id long, width int, height int, sum_px long, min_px int, "
    "max_px int, mean_px double"
)


def pixel_stats(media: DataFrame, *, frame_idx: int | None = None) -> DataFrame:
    """Per-image pixel statistics via REAL decode (mapInPandas,
    :func:`decode_image`: PNG, or JPEG baseline or progressive, gray or
    color) — sum/min/max/mean over every decoded sample, all channels
    summed. With ``frame_idx`` each payload is a PSEQ clip and only that
    frame is decoded (the container walk skips the rest) — the
    keyframe-extraction shape of a video featurization pass.

    The mean uses the codec's half-up round6 (jpeg_codec._round6), as
    DuckDB's round does: Python's builtin round is banker's and diverges
    from the SQL oracle on exact ties (at 256 samples the mean's decimal
    expansion ends at digit 8, so digit-7 ties occur). Linear per
    partition; payloads never leave the executors."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                if frame_idx is not None:
                    payload = decode_pngseq_frame(payload, frame_idx)
                w, h, _ch, px = decode_image(payload)
                n = len(px)
                rows.append(
                    {
                        "media_id": mid,
                        "width": w,
                        "height": h,
                        "sum_px": sum(px),
                        "min_px": min(px) if n else 0,
                        "max_px": max(px) if n else 0,
                        "mean_px": jpeg_codec._round6(sum(px) / n) if n else 0.0,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return media.mapInPandas(run, PIXEL_STATS_SCHEMA)


def documents_as_jpeg_media(
    docs: DataFrame, *, width: int, height: int,
    subsampling: str | None = None, progressive: bool = False,
) -> DataFrame:
    """REAL-JPEG media table derived from document text: the first
    width*height bytes (ASCII-sanitized upstream, space-padded) become a
    grayscale image with ``subsampling=None``; otherwise the first
    width*height*3 become interleaved RGB, coded as YCbCr in that
    layout. Encoded executor-side with jpeg_codec.encode_jpeg, or
    encode_jpeg_progressive (gray or 4:4:4) with ``progressive``. JPEG
    is lossy, but deterministically so — downstream decode equals
    jpeg_codec.reference_transform (or reference_transform_color) of the
    same bytes, which the DuckDB oracles replay from literal DCT/quant
    tables; progressive and baseline share the quantized coefficients,
    so they share the oracles too."""

    def encode(raw: bytes) -> bytes:
        if progressive:
            return jpeg_codec.encode_jpeg_progressive(
                raw, width, height, subsampling=subsampling
            )
        return jpeg_codec.encode_jpeg(raw, width, height, subsampling=subsampling)

    n = width * height * (1 if subsampling is None else 3)
    return _text_media(docs, n, encode, "image", width=width, height=height)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter used by tests/catalog: treat document text bytes as opaque
    payloads so the binary plumbing runs against real testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image").alias("media_type"),
        F.struct(
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(0).alias("sample_rate"),
            (F.col("n_chars") % 100).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def documents_as_wav_media(docs: DataFrame, *, n_samples: int = 64) -> DataFrame:
    """REAL-WAV media table derived from document text: the first
    ``n_samples`` bytes map to PCM16 samples via (byte − 100)·128,
    encoded with the stdlib RIFF encoder (operators/wav_codec.py) — the
    audio twin of documents_as_png_media."""
    return _text_media(
        docs, n_samples,
        lambda raw: wav_codec.encode_wav(
            [(b - 100) * 128 for b in raw], sample_rate=8000
        ),
        "audio", sample_rate=8000, n_frames=n_samples,
    )


AUDIO_STATS_SCHEMA = (
    "media_id long, sample_rate int, n_samples long, duration_ms double, "
    "sum_s long, min_s int, max_s int, rms double, zero_crossings long"
)


def wav_audio_stats(media: DataFrame) -> DataFrame:
    """Per-clip audio statistics via REAL WAV decode (mapInPandas):
    RIFF chunk walk + PCM16 unpack, reduced to duration, amplitude
    bounds, RMS energy and zero-crossing count (integer sums → the
    stats replay exactly from the source bytes in any engine)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, s = wav_codec.decode_wav(bytes(payload))
                n = len(s)
                sq = sum(v * v for v in s)
                zc = sum(
                    1
                    for i in range(1, n)
                    if (s[i - 1] < 0) != (s[i] < 0)
                )
                rows.append(
                    {
                        "media_id": mid,
                        "sample_rate": rate,
                        "n_samples": n,
                        "duration_ms": round(n / rate * 1000.0, 6),
                        "sum_s": sum(s),
                        "min_s": min(s) if n else 0,
                        "max_s": max(s) if n else 0,
                        "rms": round(math.sqrt(sq / n), 6) if n else 0.0,
                        "zero_crossings": zc,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return media.mapInPandas(run, AUDIO_STATS_SCHEMA)


# --------------------------------------------------------------------------
# Video tier: PNG-sequence container (real container walk + frame decode)
# --------------------------------------------------------------------------

PSEQ_MAGIC = b"PSEQ"


def encode_pngseq(frames: list[bytes]) -> bytes:
    """Length-prefixed PNG frame container: magic + u32 frame count +
    per-frame (u32 length + payload). A deliberately minimal stand-in
    for a real video container (MP4 demuxing needs codec libs this
    sandbox lacks) — but the PIPELINE is the real thing: container walk,
    frame select, per-frame image decode."""
    out = [PSEQ_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        out.append(struct.pack("<I", len(f)))
        out.append(f)
    return b"".join(out)


def decode_pngseq_frame(payload: bytes, idx: int) -> bytes:
    """Seek to frame ``idx`` by walking the length prefixes (no decode
    of skipped frames — the point of a container walk) and return its
    PNG bytes."""
    if payload[:4] != PSEQ_MAGIC:
        raise ValueError("not a PSEQ container")
    (n,) = struct.unpack_from("<I", payload, 4)
    if not 0 <= idx < n:
        raise IndexError(f"frame {idx} out of range 0..{n - 1}")
    pos = 8
    for i in range(n):
        (flen,) = struct.unpack_from("<I", payload, pos)
        pos += 4
        if i == idx:
            frame = payload[pos : pos + flen]
            if len(frame) != flen:
                raise ValueError("truncated frame")
            return frame
        pos += flen
    raise ValueError("container walk overran")  # pragma: no cover


def documents_as_pngseq_media(
    docs: DataFrame, *, n_frames: int = 4, width: int = 8, height: int = 8
) -> DataFrame:
    """REAL-container video table: document text split into ``n_frames``
    consecutive width*height byte tiles, each a real PNG frame inside
    the PSEQ container."""
    fsize = width * height

    def encode(raw: bytes) -> bytes:
        return encode_pngseq(
            [
                png_codec.encode_png(raw[i * fsize : (i + 1) * fsize], width, height)
                for i in range(n_frames)
            ]
        )

    return _text_media(
        docs, fsize * n_frames, encode, "video",
        width=width, height=height, n_frames=n_frames,
    )


def resample_audio(media: DataFrame, *, factor: int) -> DataFrame:
    """Integer decimation of WAV clips: keep every ``factor``-th sample,
    divide the sample rate, re-encode — REAL decode→transform→encode
    through the stdlib codec (the audio twin of resize_images' nearest-
    neighbor kernel). Deterministic: sample selection is pure indexing,
    so downstream stats replay from the source bytes."""

    if factor < 1:
        raise ValueError("factor must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads = []
            metas = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                rate, s = wav_codec.decode_wav(bytes(payload))
                dec = s[::factor]
                out_payloads.append(
                    wav_codec.encode_wav(dec, sample_rate=max(1, rate // factor))
                )
                m = dict(meta)
                m["sample_rate"] = max(1, rate // factor)
                m["n_frames"] = len(dec)
                metas.append(m)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out_payloads,
                    "media_type": pdf["media_type"],
                    "meta": metas,
                }
            )

    return media.mapInPandas(run, MEDIA_SCHEMA)


PIXEL_ROWS_SCHEMA = "media_id long, i int, v int"


def pixel_rows(media: DataFrame) -> DataFrame:
    """Per-pixel rows (media_id, i, v) via REAL decode (mapInPandas,
    :func:`decode_image`: PNG, or JPEG baseline or progressive) —
    the relational hand-off for downstream pixel-domain operators
    (DCT perceptual hashing, histogram audits): the Python side ONLY
    decodes; every transform after this row stream is Catalyst
    expressions. i is row-major sample index."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, idxs, vals = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _w, _h, _ch, px = decode_image(bytes(payload))
                mids.extend([mid] * len(px))
                idxs.extend(range(len(px)))
                vals.extend(px)
            if mids:
                yield pd.DataFrame({"media_id": mids, "i": idxs, "v": vals})

    return media.mapInPandas(run, PIXEL_ROWS_SCHEMA)


SAMPLE_ROWS_SCHEMA = "media_id long, pos int, v int"


def wav_sample_rows(media: DataFrame) -> DataFrame:
    """Per-sample rows (media_id, pos, v) via REAL WAV decode
    (mapInPandas) — the relational hand-off for spectral operators
    (framed DFT spectrograms): Python only decodes; all signal math
    after this row stream is Catalyst expressions."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, poss, vals = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _rate, s = wav_codec.decode_wav(bytes(payload))
                mids.extend([mid] * len(s))
                poss.extend(range(len(s)))
                vals.extend(s)
            if mids:
                yield pd.DataFrame({"media_id": mids, "pos": poss, "v": vals})

    return media.mapInPandas(run, SAMPLE_ROWS_SCHEMA)

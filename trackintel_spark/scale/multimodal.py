"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata
structs; heavy per-item work runs in Arrow-batched ``mapInPandas``
kernels so a 100 TB corpus streams through Python in bounded-memory
batches.

Decode is REAL wherever the format needs no codec library: PPM (P6),
8-bit PNG and baseline JPEG images and PCM WAV audio parse with stdlib
zlib + numpy alone (:func:`decode_ppm`, :func:`decode_png`,
:func:`trackintel_spark.scale._jpeg.decode_jpeg` — Huffman + dequantize
+ vectorized 8x8 IDCT + chroma upsample, restart-interval aware —
and :func:`decode_wav_pcm`), feeding genuine pixel/sample statistics
(:func:`image_features`, :func:`audio_features`) and a real
nearest-neighbor :func:`resize_images` transform. MP4 containers and
MP3 streams get REAL metadata without any codec — :func:`probe_mp4`
walks the ISO-BMFF box tree (duration, resolution, codec fourccs) and
:func:`probe_mp3` walks MPEG frame headers (duration, bitrate, VBR) —
which is what curation filters actually key on. Only SAMPLE/FRAME
decode of codec-bound formats (ffmpeg/librosa for MP3 audio, MP4
frames) is stubbed:
``decode_stub=True`` yields deterministic fake features
(shape-correct, content-derived), while ``decode_stub=False`` raises
``NotImplementedError`` at the point a real codec would be invoked.
Everything Spark-side — schema, partitioning, batch iteration, UDF
signatures — is identical between the real and stubbed paths.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# crawl-data hygiene: a bit-flipped header can claim a ~4G-pixel
# raster (65535x65535 GIF screens, zlib-bombed PNG IDAT) and allocate
# tens of GB before any later validation fails. 2^28 pixels (a
# legitimate 16384x16384 image) bounds every raster allocation.
_MAX_PIXELS = 1 << 28


MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image | audio | video
        T.StructField("format", T.StringType()),        # png, wav, mp4, ...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap header sniffing as pure expressions: recognizes PNG/JPEG/RIFF
    magic bytes without decoding. Unknown formats get NULL fields."""
    head = F.hex(F.substring(F.col(payload_col), 1, 4))
    # RIFF is a container: bytes 8-12 name the form — WAVE → audio,
    # WEBP → image (mirrors probe_webp / the wav decoder).
    riff_form = F.hex(F.substring(F.col(payload_col), 9, 4))
    fmt = (
        F.when(head.startswith("89504E47"), F.lit("png"))
        .when(head.startswith("FFD8FF"), F.lit("jpeg"))
        .when(
            head.startswith("52494646"),
            F.when(riff_form == "57454250", F.lit("webp"))       # "WEBP"
            .when(riff_form == "57415645", F.lit("wav"))          # "WAVE"
            .otherwise(F.lit("riff")),
        )
        .when(head.startswith("47494638"), F.lit("gif"))  # GIF8 — decodable HERE (decode_gif)
        .when(head.startswith("424D"), F.lit("bmp"))  # "BM" — decodable HERE (decode_bmp)
        .when(head.startswith("5036"), F.lit("ppm"))  # "P6" — decodable HERE (decode_ppm)
        .otherwise(F.lit(None))
    )
    media_type = (
        F.when(fmt.isin("png", "jpeg", "ppm", "gif", "bmp", "webp"), F.lit("image"))
        .when(fmt.isin("wav", "riff"), F.lit("audio"))
        .otherwise(F.lit(None))
    )
    meta = F.struct(
        media_type.alias("media_type"),
        fmt.alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("double").alias("duration_s"),
        F.lit(None).cast("int").alias("sample_rate"),
    )
    return df.withColumn("media_meta", meta)


def _fake_features(payload: bytes, n: int) -> np.ndarray:
    """Deterministic content-derived pseudo-features (the decode stub)."""
    digest = hashlib.sha256(payload if payload is not None else b"").digest()
    seed = int.from_bytes(digest[:4], "big")
    rng = np.random.RandomState(seed)
    return rng.standard_normal(n).astype(np.float32)


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    feature_dim: int = 64,
    batch_size: int = 256,
    decode_stub: bool = True,
) -> DataFrame:
    """Per-item feature extraction via ``mapInPandas``.

    The kernel iterates Arrow batches (bounded memory), decodes each
    payload (stubbed), and emits (id, features). Real deployments swap
    ``_fake_features`` for a codec + model call; the Spark plumbing is
    unchanged.
    """
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for s in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[s : s + batch_size]
                if decode_stub:
                    feats = [_fake_features(p, feature_dim).tolist() for p in chunk[payload_col]]
                else:
                    raise NotImplementedError(
                        "real media decoding requires codec libraries not present in this environment"
                    )
                yield pd.DataFrame({id_col: chunk[id_col].values, "features": feats})

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=schema)


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n_seconds: float = 1.0,
    max_frames: int = 8,
    decode_stub: bool = True,
) -> DataFrame:
    """Frame sampling plumbing: one output row per sampled frame with a
    frame index and (stubbed) frame payload."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for _, row in pdf.iterrows():
                if not decode_stub:
                    raise NotImplementedError("video decoding requires ffmpeg, not present here")
                payload = row[payload_col] or b""
                n = min(max_frames, max(1, len(payload) // 64))
                for i in range(n):
                    ids.append(row[id_col])
                    idxs.append(i)
                    frames.append(hashlib.sha256(payload + i.to_bytes(4, "big")).digest())
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# real decoders — formats that need no codec library
# ---------------------------------------------------------------------------


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (Netpbm P6, maxval <= 255) payload to an
    (h, w, 3) uint8 array. Pure numpy/stdlib — a REAL image decode in
    this container. Raises ValueError on anything else."""
    if payload is None or not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header: magic, width, height, maxval — whitespace-separated with
    # '#' comments, then ONE whitespace byte before the raster
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError(f"16-bit PPM unsupported (maxval {maxval})")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3)


def encode_ppm(img: np.ndarray) -> bytes:
    """Inverse of :func:`decode_ppm` (maxval 255)."""
    h, w, c = img.shape
    if c != 3:
        raise ValueError(f"expected (h, w, 3), got {img.shape}")
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def decode_png(payload: bytes) -> np.ndarray:
    """Decode an 8-bit, non-interlaced PNG payload to an (h, w, c)
    uint8 array (c = 1 gray / 2 gray+alpha / 3 RGB / 4 RGBA; palette
    images come back expanded to RGB). Pure stdlib zlib + numpy — PNG
    needs no codec library: the raster is zlib-compressed scanlines,
    each prefixed by one of five per-line filters (None/Sub/Up/
    Average/Paeth, RFC 2083 §6), undone here. Raises ValueError on
    anything else (16-bit, interlaced, truncated, non-PNG)."""
    import struct
    import zlib

    if payload is None or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8:
        raise ValueError(f"only 8-bit PNG supported (depth {depth})")
    if interlace:
        raise ValueError("interlaced PNG unsupported")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard compression/filter method")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"unknown color type {ctype}")
    if w < 1 or h < 1:
        raise ValueError(f"invalid dimensions {w}x{h}")
    if w * h > _MAX_PIXELS:
        raise ValueError(f"raster too large ({w}x{h})")
    stride = w * nch
    need = h * (stride + 1)
    try:
        # max_length bounds a corrupt/bombed IDAT stream to the raster
        # the header claims (+1 so over-length is detectable)
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), need + 1)
    except zlib.error as e:
        raise ValueError(f"bad IDAT stream: {e}") from e
    if len(raw) != need:
        raise ValueError("truncated raster")

    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, stride, y * (stride + 1) + 1)
        if f == 0:  # None
            row = line.astype(np.int32)
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            row = np.cumsum(line.reshape(w, nch).astype(np.int64), axis=0).reshape(stride)
            row = (row & 0xFF).astype(np.int32)
        elif f == 2:  # Up
            row = (line.astype(np.int32) + prev) & 0xFF
        elif f in (3, 4):  # Average / Paeth: sequential in x
            row = line.astype(np.int32)
            for x in range(stride):
                a = row[x - nch] if x >= nch else 0
                b = int(prev[x])
                if f == 3:
                    row[x] = (row[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev[x - nch]) if x >= nch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    row[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown scanline filter {f}")
        out[y] = row.astype(np.uint8)
        prev = row

    if ctype == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette image without a valid PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max()) >= len(pal):
            raise ValueError("palette index out of range")
        return pal[idx]
    return out.reshape(h, w, nch)


def encode_png(img: np.ndarray) -> bytes:
    """Inverse of :func:`decode_png` for 8-bit (h, w[, c]) arrays with
    c in {1, 2, 3, 4}: filter-0 scanlines, one zlib stream, CRC'd
    chunks. Stdlib-only — the real PNG encoder this container can run."""
    import struct
    import zlib

    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if ctype is None:
        raise ValueError(f"expected 1/2/3/4 channels, got {c}")
    body = np.ascontiguousarray(img, dtype=np.uint8).reshape(h, w * c)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_image_rgb(payload: bytes) -> np.ndarray:
    """Decode any REAL-decodable image payload (PPM, PNG, baseline or
    progressive JPEG, GIF, BMP, lossless WebP) to (h, w, 3) uint8: gray
    replicates across channels, alpha is dropped. Raises ValueError for
    formats needing a codec library (video frames etc.)."""
    try:
        return decode_ppm(payload)
    except ValueError:
        pass
    if payload is not None and payload[:2] == b"\xff\xd8":
        from trackintel_spark.scale._jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload is not None and payload[:4] == b"GIF8":
        return decode_gif(payload)
    if payload is not None and payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload is not None and payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from trackintel_spark.scale._vp8l import decode_webp

        # lossless and animated WebP real-decode; lossy VP8 is not
        # decoded and raises — it falls to the per-row error
        return decode_webp(payload)[:, :, :3]
    img = decode_png(payload)
    c = img.shape[2]
    if c >= 3:
        return img[:, :, :3]
    return np.repeat(img[:, :, :1], 3, axis=2)


def decode_wav_pcm(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE PCM payload (8- or 16-bit, any channel count)
    to (mono float64 samples in [-1, 1], sample_rate). Pure
    numpy/stdlib — a REAL audio decode in this container."""
    if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError(f"only 8/16-bit PCM supported (format {audio_format}, {bits} bits)")
    # a zero here would surface as ZeroDivisionError in the channel
    # fold / duration math and kill the whole task instead of the
    # documented NULL-field row
    if n_channels <= 0 or sample_rate <= 0:
        raise ValueError(f"invalid channel count/sample rate ({n_channels}, {sample_rate})")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    else:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    if n_channels > 1:
        samples = samples[: len(samples) - len(samples) % n_channels]
        samples = samples.reshape(-1, n_channels).mean(axis=1)
    return samples, sample_rate


def image_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL per-image statistics for P6 PPM, 8-bit PNG and baseline
    JPEG payloads via ``mapInPandas``: (id, width, height, mean_r,
    mean_g, mean_b) — gray/alpha images are normalized to RGB first
    (:func:`_decode_image_rgb`). Payloads needing a codec library
    (MP4 frames etc.) emit NULL fields (route them to
    :func:`extract_features`' stub or a real codec instead)."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    img = _decode_image_rgb(payload)
                    m = img.reshape(-1, 3).mean(axis=0)
                    rows.append((pid, img.shape[1], img.shape[0], m[0], m[1], m[2]))
                except ValueError:
                    rows.append((pid, None, None, None, None, None))
            yield pd.DataFrame(rows, columns=[id_col, "width", "height", "mean_r", "mean_g", "mean_b"])

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=schema)


def resize_images(
    df: DataFrame,
    height: int,
    width: int,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL nearest-neighbor resize of P6 PPM, 8-bit PNG and baseline
    JPEG payloads: (id, payload) with the payload re-encoded at
    (height, width) in its own format (PPM -> PPM, PNG -> PNG,
    JPEG -> 4:4:4 baseline JPEG with the Annex K tables). Payloads
    needing a codec library pass through unchanged (caller filters by
    format beforehand — ``attach_media_metadata`` sniffs headers
    without decoding)."""
    if height < 1 or width < 1:
        raise ValueError(f"target size must be >= 1x1, got {height}x{width}")
    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField(payload_col, T.BinaryType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for pid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    img = decode_ppm(payload)
                    enc = encode_ppm
                except ValueError:
                    if payload is not None and payload[:2] == b"\xff\xd8":
                        from trackintel_spark.scale._jpeg import decode_jpeg, encode_jpeg

                        try:
                            img = decode_jpeg(payload)
                            enc = encode_jpeg
                        except ValueError:
                            out.append((pid, payload))
                            continue
                    elif payload is not None and payload[:4] == b"GIF8":
                        try:
                            img = decode_gif(payload)
                            enc = encode_gif
                        except ValueError:
                            out.append((pid, payload))
                            continue
                    elif payload is not None and payload[:2] == b"BM":
                        try:
                            img = decode_bmp(payload)
                            enc = encode_bmp
                        except ValueError:
                            out.append((pid, payload))
                            continue
                    elif (
                        payload is not None
                        and payload[:4] == b"RIFF"
                        and payload[8:12] == b"WEBP"
                    ):
                        from trackintel_spark.scale._vp8l import (
                            decode_webp as _dw,
                            encode_webp as _ew,
                        )

                        # animated VP8X decodes (first frame, r12) but a
                        # thumbnail re-encode would silently REPLACE the
                        # animation with a still — pass it through
                        if (
                            len(payload) > 20
                            and payload[12:16] == b"VP8X"
                            and payload[20] & 0x02
                        ):
                            out.append((pid, payload))
                            continue
                        try:
                            # VP8L stills re-encode as VP8L; lossy VP8
                            # is not decoded, raises here and PASSES
                            # THROUGH UNCHANGED
                            img = _dw(payload)[:, :, :3]
                            enc = _ew
                        except ValueError:
                            out.append((pid, payload))
                            continue
                    else:
                        try:
                            img = decode_png(payload)
                            enc = encode_png
                        except ValueError:
                            out.append((pid, payload))
                            continue
                ys = (np.arange(height) * img.shape[0] // height).clip(0, img.shape[0] - 1)
                xs = (np.arange(width) * img.shape[1] // width).clip(0, img.shape[1] - 1)
                out.append((pid, enc(img[ys][:, xs])))
            yield pd.DataFrame(out, columns=[id_col, payload_col])

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=schema)


def audio_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL per-clip statistics for PCM WAV payloads via ``mapInPandas``:
    (id, sample_rate, n_samples, duration_s, rms, zero_cross_rate).
    Non-WAV payloads emit NULL fields."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_cross_rate", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    s, sr = decode_wav_pcm(payload)
                    zc = float(np.mean(np.signbit(s[1:]) != np.signbit(s[:-1]))) if len(s) > 1 else 0.0
                    rows.append(
                        (pid, sr, len(s), len(s) / sr, float(np.sqrt(np.mean(s**2))) if len(s) else 0.0, zc)
                    )
                except ValueError:
                    rows.append((pid, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "sample_rate", "n_samples", "duration_s", "rms", "zero_cross_rate"],
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=schema)


# -- video containers ---------------------------------------------------------


def probe_mp4(payload: bytes) -> dict:
    """REAL MP4/ISO-BMFF container metadata without decoding a frame:
    walk the box tree for mvhd (timescale/duration), tkhd
    (presentation width/height, 16.16 fixed point) and stsd (sample
    codec fourcc per track). Frame DECODE needs ffmpeg and stays on the
    stub path; duration/resolution/codec — what a curation filter
    actually keys on — need only the box structure (ISO 14496-12).
    Raises ValueError on non-MP4 or a malformed box tree."""
    import struct as _struct

    if payload is None or len(payload) < 8 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 (no ftyp box)")

    out = {"duration_s": None, "width": None, "height": None, "n_tracks": 0, "codecs": []}
    _CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

    def walk(data: bytes, start: int, end: int):
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(data[pos : pos + 4], "big")
            typ = data[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    raise ValueError("truncated largesize box")
                size = int.from_bytes(data[pos + 8 : pos + 16], "big")
                hdr = 16
            elif size == 0:  # to end of enclosing box
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError(f"malformed box {typ!r}")
            body = pos + hdr
            if typ in _CONTAINERS:
                if typ == b"trak":
                    out["n_tracks"] += 1
                walk(data, body, pos + size)
            elif typ == b"mvhd":
                ver = data[body]
                if ver == 1:
                    ts = int.from_bytes(data[body + 20 : body + 24], "big")
                    dur = int.from_bytes(data[body + 24 : body + 32], "big")
                else:
                    ts = int.from_bytes(data[body + 12 : body + 16], "big")
                    dur = int.from_bytes(data[body + 16 : body + 20], "big")
                if ts > 0:
                    out["duration_s"] = round(dur / ts, 6)
            elif typ == b"tkhd":
                ver = data[body]
                # v0: ver+flags 4 + times 8 + track_ID 4 + reserved 4 +
                # duration 4 = 24; v1 widens the three times to 8 bytes
                # (= 36); then reserved/layer/volume/matrix = 52 more
                off = body + (24 if ver == 0 else 36) + 52
                if off + 8 <= pos + size:
                    w = int.from_bytes(data[off : off + 4], "big") / 65536.0
                    h = int.from_bytes(data[off + 4 : off + 8], "big") / 65536.0
                    if w and h:  # audio tracks carry 0x0
                        out["width"] = int(w)
                        out["height"] = int(h)
            elif typ == b"stsd":
                n = int.from_bytes(data[body + 4 : body + 8], "big")
                p = body + 8
                for _ in range(n):
                    if p + 8 > pos + size:
                        break
                    esz = int.from_bytes(data[p : p + 4], "big")
                    fourcc = data[p + 4 : p + 8].decode("ascii", "replace")
                    out["codecs"].append(fourcc)
                    p += max(esz, 8)
            pos += size

    walk(payload, 0, len(payload))
    return out


def video_metadata(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL MP4 container metadata via ``mapInPandas``: (id, duration_s,
    width, height, n_tracks, codecs). Non-MP4 payloads emit NULL
    fields. Map-only — no shuffle, no state (see :func:`probe_mp4`)."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_tracks", T.IntegerType()),
            T.StructField("codecs", T.StringType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    m = probe_mp4(bytes(payload) if payload is not None else None)
                    rows.append(
                        (pid, m["duration_s"], m["width"], m["height"],
                         m["n_tracks"], ",".join(m["codecs"]) or None)
                    )
                except ValueError:
                    rows.append((pid, None, None, None, None, None))
            yield pd.DataFrame(
                rows, columns=[id_col, "duration_s", "width", "height", "n_tracks", "codecs"]
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=schema)


_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_RATES = [44100, 48000, 32000]


def probe_mp3(payload: bytes) -> dict:
    """REAL MPEG-1 Layer III stream metadata by walking frame headers
    (no decoder): each frame declares its bitrate/samplerate, frame
    length = 144 * bitrate / samplerate (+ padding), and every frame
    carries 1152 samples. ID3v2 prefixes are skipped. Returns
    duration_s, n_frames, sample_rate, bitrate_kbps (mean), vbr flag.
    Raises ValueError when no valid frame sequence is found."""
    if payload is None or len(payload) < 4:
        raise ValueError("not an MP3 payload")
    pos = 0
    if payload[:3] == b"ID3":  # ID3v2 header: syncsafe 28-bit size at 6..10
        sz = 0
        for b in payload[6:10]:
            sz = (sz << 7) | (b & 0x7F)
        pos = 10 + sz
    n_frames = 0
    rates = set()
    bitrates = []
    while pos + 4 <= len(payload):
        b0, b1, b2 = payload[pos], payload[pos + 1], payload[pos + 2]
        # MPEG-1 Layer III sync: 11 set bits, version 11, layer 01
        if not (b0 == 0xFF and (b1 & 0xFE) == 0xFA):
            break
        br_idx, sr_idx, padding = b2 >> 4, (b2 >> 2) & 0x3, (b2 >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            break  # free-format/bad header
        bitrate = _MP3_BITRATES[br_idx]
        rate = _MP3_RATES[sr_idx]
        frame_len = 144 * bitrate * 1000 // rate + padding
        n_frames += 1
        rates.add(rate)
        bitrates.append(bitrate)
        pos += frame_len
    if not n_frames or len(rates) != 1:
        raise ValueError("no consistent MPEG-1 Layer III frame sequence")
    rate = rates.pop()
    return {
        "duration_s": round(n_frames * 1152 / rate, 6),
        "n_frames": n_frames,
        "sample_rate": rate,
        "bitrate_kbps": round(sum(bitrates) / len(bitrates), 3),
        "vbr": len(set(bitrates)) > 1,
    }


def mp3_metadata(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL MP3 stream metadata via ``mapInPandas``: (id, duration_s,
    n_frames, sample_rate, bitrate_kbps, vbr). Non-MP3 payloads emit
    NULL fields. Map-only (see :func:`probe_mp3`); sample DECODE would
    need a codec library and stays on the stub path."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("bitrate_kbps", T.DoubleType()),
            T.StructField("vbr", T.BooleanType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    m = probe_mp3(bytes(payload) if payload is not None else None)
                    rows.append((pid, m["duration_s"], m["n_frames"], m["sample_rate"],
                                 m["bitrate_kbps"], m["vbr"]))
                except ValueError:
                    rows.append((pid, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "duration_s", "n_frames", "sample_rate", "bitrate_kbps", "vbr"],
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=schema)


def decode_gif(payload: bytes) -> np.ndarray:
    """Decode the FIRST frame of a GIF87a/89a payload to (h, w, 3)
    uint8 — the third of the three web image formats, again without a
    codec library: GIF is palette indices under LZW, both plain
    Python. Interlaced frames are de-interlaced; animated GIFs yield
    frame 0 (curation features don't replay animations). Raises
    ValueError on non-GIF or malformed streams — truncated crawl
    records surface as ValueError (the per-row error the kernels
    absorb), never a stray IndexError."""
    try:
        return _decode_gif(payload)
    except (IndexError, KeyError) as e:
        raise ValueError(f"corrupt GIF stream: {type(e).__name__}: {e}") from e


def _decode_gif(payload: bytes) -> np.ndarray:
    if payload is None or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x7)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3

    def skip_subblocks(p):
        while p < len(payload) and payload[p]:
            p += 1 + payload[p]
        return p + 1

    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos = skip_subblocks(pos + 2)
        elif b == 0x2C:  # image descriptor
            img, pal, ix, iy, iw, ih, pos = _decode_gif_image(payload, pos, gct, sw, sh)
            # compose onto the logical screen (frame may be a sub-rect)
            full = np.zeros((sh, sw), dtype=np.uint8)
            full[iy : iy + ih, ix : ix + iw] = img
            return pal[full]
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError("no image data in GIF")


def _decode_gif_image(payload, pos, gct, sw, sh):
    """Decode ONE image block (descriptor at ``pos``): returns
    (index array (ih, iw), palette, ix, iy, iw, ih, new_pos)."""
    ix = int.from_bytes(payload[pos + 1 : pos + 3], "little")
    iy = int.from_bytes(payload[pos + 3 : pos + 5], "little")
    iw = int.from_bytes(payload[pos + 5 : pos + 7], "little")
    ih = int.from_bytes(payload[pos + 7 : pos + 9], "little")
    iflags = payload[pos + 9]
    pos += 10
    if iw < 1 or ih < 1 or sw < 1 or sh < 1:
        raise ValueError("invalid GIF dimensions")
    if sw * sh > _MAX_PIXELS or iw * ih > _MAX_PIXELS:
        raise ValueError(f"raster too large ({sw}x{sh} screen)")
    if ix + iw > sw or iy + ih > sh:
        raise ValueError("GIF frame rectangle outside logical screen")
    pal = gct
    if iflags & 0x80:
        n = 2 << (iflags & 0x7)
        pal = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    if pal is None:
        raise ValueError("no color table")
    min_code = payload[pos]
    pos += 1
    data = bytearray()
    while pos < len(payload) and payload[pos]:
        ln = payload[pos]
        data += payload[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    pos += 1
    idx = _lzw_decode(bytes(data), min_code, iw * ih)
    if len(idx) < iw * ih:
        raise ValueError("truncated LZW stream")
    img = np.array(idx[: iw * ih], dtype=np.uint8).reshape(ih, iw)
    if iflags & 0x40:  # interlaced: 4-pass row order
        order = (
            list(range(0, ih, 8)) + list(range(4, ih, 8))
            + list(range(2, ih, 4)) + list(range(1, ih, 2))
        )
        out = np.empty_like(img)
        out[order] = img
        img = out
    if int(img.max()) >= len(pal):
        raise ValueError("palette index out of range")
    return img, pal, ix, iy, iw, ih, pos


def decode_gif_frames(payload: bytes, max_frames: int | None = None):
    """Decode a GIF to a list of ``(rgba, duration_ms)`` canvas frames
    (r12, parity with :func:`decode_webp_frames`): each frame's
    sub-rect composites onto the logical screen honoring the Graphic
    Control Extension — transparency index (those pixels leave the
    canvas untouched), disposal 2 (restore background = clear the
    rectangle to transparent, the modern-renderer convention) and
    disposal 3 (restore previous canvas). Non-animated GIFs yield one
    frame with duration ``None``. ``max_frames`` stops early
    (:func:`decode_gif` stays the cheap first-frame RGB path)."""
    try:
        return _decode_gif_frames(payload, max_frames)
    except (IndexError, KeyError) as e:
        raise ValueError(f"corrupt GIF stream: {type(e).__name__}: {e}") from e


def _decode_gif_frames(payload, max_frames):
    if payload is None or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    if sw < 1 or sh < 1:
        raise ValueError("invalid GIF dimensions")
    if sw * sh > _MAX_PIXELS:
        raise ValueError(f"raster too large ({sw}x{sh} screen)")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x7)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3

    def skip_subblocks(p):
        while p < len(payload) and payload[p]:
            p += 1 + payload[p]
        return p + 1

    canvas = np.zeros((sh, sw, 4), dtype=np.uint8)
    frames: list = []
    n_images = 0
    # pending Graphic Control Extension state (applies to ONE image)
    disposal, tindex, delay_ms = 0, None, None
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:
            if payload[pos + 1 : pos + 2] == b"\xf9" and pos + 7 <= len(payload):
                gflags = payload[pos + 3]
                disposal = (gflags >> 2) & 0x7
                delay_ms = int.from_bytes(payload[pos + 4 : pos + 6], "little") * 10
                tindex = payload[pos + 6] if gflags & 0x1 else None
            pos = skip_subblocks(pos + 2)
        elif b == 0x2C:
            if (len(frames) + 1) * sw * sh > _MAX_PIXELS:
                raise ValueError("animation exceeds pixel budget")
            img, pal, ix, iy, iw, ih, pos = _decode_gif_image(payload, pos, gct, sw, sh)
            n_images += 1
            region = canvas[iy : iy + ih, ix : ix + iw]
            saved = region.copy() if disposal == 3 else None
            rgba = np.dstack([pal[img], np.full((ih, iw), 255, dtype=np.uint8)])
            if tindex is not None:
                mask = img != tindex  # transparent pixels keep the canvas
                region[mask] = rgba[mask]
            else:
                region[:] = rgba
            frames.append((canvas.copy(), delay_ms))
            if max_frames is not None and len(frames) >= max_frames:
                return frames
            if disposal == 2:  # restore background: transparent rect
                canvas[iy : iy + ih, ix : ix + iw] = 0
            elif disposal == 3 and saved is not None:
                canvas[iy : iy + ih, ix : ix + iw] = saved
            disposal, tindex, delay_ms = 0, None, None
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    if not frames:
        raise ValueError("no image data in GIF")
    if n_images == 1:
        return [(frames[0][0], None)]
    return frames


def _lzw_decode(data: bytes, min_code: int, limit: int) -> bytearray:
    """GIF-variant LZW (LSB-first bit packing, CLEAR/EOI codes,
    12-bit max width)."""
    clear = 1 << min_code
    eoi = clear + 1
    bitpos = 0
    nbits = len(data) * 8

    def read_code(width):
        nonlocal bitpos
        if bitpos + width > nbits:
            return None
        v = 0
        for i in range(width):
            byte = data[(bitpos + i) >> 3]
            v |= ((byte >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        return v

    if not 1 <= min_code <= 8:
        # GIF palettes cap at 256 colors, so root codes fit one byte
        raise ValueError(f"invalid LZW minimum code size {min_code}")
    table = [bytes([i]) for i in range(clear)] + [None, None]
    width = min_code + 1
    out = bytearray()
    prev = None
    while len(out) < limit:
        code = read_code(width)
        if code is None or code == eoi:
            break
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [None, None]
            width = min_code + 1
            prev = None
            continue
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt LZW code")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            # the table is CAPPED at 4096 entries (12-bit codes): real
            # encoders may defer CLEAR indefinitely ("deferred clear")
            # and expect the decoder to stop growing; unbounded growth
            # also made ever-longer entries — quadratic memory on
            # corrupt streams (a few flipped KB allocated tens of GB)
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def _gif_lzw_pack(inv, min_code: int) -> bytearray:
    """Classic 'uncompressed LZW' packing: root codes only, a CLEAR
    emitted before the code width would ever grow. Valid LZW, zero
    compression (shared by the still + animation fixture encoders)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    group = clear - 2  # root codes per CLEAR before width would grow

    acc = bitbuf = 0
    out = bytearray()

    def put(code):
        nonlocal acc, bitbuf
        bitbuf |= code << acc
        acc += width
        while acc >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            acc -= 8

    put(clear)
    for i, px in enumerate(inv):
        if i and i % group == 0:
            put(clear)
        put(int(px))
    put(eoi)
    if acc:
        out.append(bitbuf & 0xFF)
    return out


def encode_gif_anim(
    frames,
    durations=None,
    offsets=None,
    disposal=None,
    canvas_size=None,
    transparent=None,
    loop: int = 0,
) -> bytes:
    """Animated-GIF fixture sibling of :func:`decode_gif_frames`:
    GIF89a with one global palette over every frame's colors, a
    NETSCAPE loop extension, and per-frame Graphic Control Extensions
    (delay in ms rounded to centiseconds, disposal method, optional
    transparency). ``frames`` are (h, w, 3) uint8 sub-rects placed at
    ``offsets``; ``transparent`` is an RGB triple rendered transparent
    wherever a frame contains it."""
    if not frames:
        raise ValueError("need at least one frame")
    n = len(frames)
    durations = durations or [100] * n
    offsets = offsets or [(0, 0)] * n
    disposal = disposal or [0] * n
    if canvas_size is None:
        canvas_size = (
            max(x + f.shape[1] for f, (x, y) in zip(frames, offsets)),
            max(y + f.shape[0] for f, (x, y) in zip(frames, offsets)),
        )
    sw, sh = canvas_size
    allpix = np.vstack([np.asarray(f, dtype=np.uint8).reshape(-1, 3) for f in frames])
    pal = np.unique(allpix, axis=0)
    if len(pal) > 256:
        raise ValueError("encode_gif_anim needs <= 256 unique colors")
    tindex = None
    if transparent is not None:
        t = np.asarray(transparent, dtype=np.uint8)
        hits = np.nonzero((pal == t).all(axis=1))[0]
        if len(hits) == 0:
            raise ValueError("transparent color not present in any frame")
        tindex = int(hits[0])
    bits = max(2, int(np.ceil(np.log2(max(len(pal), 2)))))
    psize = 1 << bits
    pal_full = np.zeros((psize, 3), dtype=np.uint8)
    pal_full[: len(pal)] = pal
    # palette lookup: encode RGB as a single int key
    key = pal[:, 0].astype(np.int64) * 65536 + pal[:, 1] * 256 + pal[:, 2]
    order = np.argsort(key)

    data = bytearray()
    data += b"GIF89a"
    data += int(sw).to_bytes(2, "little") + int(sh).to_bytes(2, "little")
    data += bytes([0x80 | (bits - 1), 0, 0])
    data += pal_full.tobytes()
    data += bytes([0x21, 0xFF, 11]) + b"NETSCAPE2.0"
    data += bytes([3, 1]) + int(loop).to_bytes(2, "little") + b"\x00"
    for f, dur, (x, y), dis in zip(frames, durations, offsets, disposal):
        f = np.asarray(f, dtype=np.uint8)
        h, w = f.shape[:2]
        fkey = f[:, :, 0].astype(np.int64) * 65536 + f[:, :, 1] * 256 + f[:, :, 2]
        inv = order[np.searchsorted(key[order], fkey.reshape(-1))]
        gflags = ((dis & 0x7) << 2) | (0x1 if tindex is not None else 0)
        data += bytes([0x21, 0xF9, 4, gflags])
        data += (int(dur) // 10).to_bytes(2, "little")
        data += bytes([tindex or 0, 0])
        data += bytes([0x2C])
        data += int(x).to_bytes(2, "little") + int(y).to_bytes(2, "little")
        data += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
        data += bytes([0x00, bits])
        packed = _gif_lzw_pack(inv, bits)
        for s in range(0, len(packed), 255):
            chunk = packed[s : s + 255]
            data += bytes([len(chunk)]) + chunk
        data += b"\x00"
    data += b"\x3b"
    return bytes(data)


def encode_gif(img: np.ndarray) -> bytes:
    """Fixture sibling of :func:`decode_gif`: GIF89a with a global
    palette built from the image's unique colors (<= 256) and the
    classic "uncompressed LZW" packing — root codes only, with a CLEAR
    emitted before the code width would ever grow. Valid LZW, zero
    compression; the decoder is the product surface."""
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    h, w, _ = img.shape
    flat = img.reshape(-1, 3)
    pal, inv = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError("encode_gif needs <= 256 unique colors")
    bits = max(2, int(np.ceil(np.log2(max(len(pal), 2)))))
    psize = 1 << bits
    pal_full = np.zeros((psize, 3), dtype=np.uint8)
    pal_full[: len(pal)] = pal

    min_code = bits
    out = _gif_lzw_pack(inv, min_code)

    data = bytearray()
    data += b"GIF89a"
    data += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
    data += bytes([0x80 | (bits - 1), 0, 0])  # GCT present, size 2^bits
    data += pal_full.tobytes()
    data += bytes([0x2C]) + b"\x00\x00\x00\x00"
    data += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
    data += bytes([0x00, min_code])
    for s in range(0, len(out), 255):
        chunk = out[s : s + 255]
        data += bytes([len(chunk)]) + chunk
    data += b"\x00\x3b"
    return bytes(data)


def probe_gif(payload: bytes) -> dict:
    """GIF container metadata without LZW-decoding any frame: logical
    screen size, frame count, animation flag, loop extension presence —
    a block-structure walk only (image data sub-blocks are skipped by
    their length prefixes). Raises ValueError on non-GIF."""
    if payload is None or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    pos = 13
    if flags & 0x80:
        pos += (2 << (flags & 0x7)) * 3
    n_frames = 0
    has_netscape = False
    duration_ms = 0

    def skip_subblocks(p):
        while p < len(payload) and payload[p]:
            p += 1 + payload[p]
        return p + 1

    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:
            if payload[pos + 1 : pos + 2] == b"\xff" and payload[pos + 3 : pos + 11] == b"NETSCAPE":
                has_netscape = True
            elif payload[pos + 1 : pos + 2] == b"\xf9" and pos + 6 <= len(payload):
                duration_ms += int.from_bytes(payload[pos + 4 : pos + 6], "little") * 10
            pos = skip_subblocks(pos + 2)
        elif b == 0x2C:
            if pos + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            iflags = payload[pos + 9]
            pos += 10
            if iflags & 0x80:
                pos += (2 << (iflags & 0x7)) * 3
            pos = skip_subblocks(pos + 1)  # skip LZW min code + data blocks
            n_frames += 1
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    return {
        "width": w, "height": h, "n_frames": n_frames,
        "animated": n_frames > 1 or has_netscape,
        "duration_ms": duration_ms,
    }


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed (BI_RGB) 24/32-bit BMP payload to
    (h, w, 3) uint8 — Windows-era but still common in scraped corpora;
    stored bottom-up, BGR, rows padded to 4 bytes. 8-bit paletted
    BMPs decode via their color table. Raises ValueError on RLE/16-bit
    and other compressions."""
    if payload is None or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        raise ValueError("BITMAPCOREHEADER unsupported")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if comp not in (0, 3) or bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    topdown = h < 0
    h = abs(h)
    if w < 1 or h < 1:
        raise ValueError("invalid dimensions")
    stride = (w * bpp // 8 + 3) & ~3
    if data_off + stride * h > len(payload):
        raise ValueError("truncated raster")
    rows = np.frombuffer(payload, np.uint8, stride * h, data_off).reshape(h, stride)
    if not topdown:
        rows = rows[::-1]
    if bpp == 8:
        n_colors = int.from_bytes(payload[46:50], "little") or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(payload, np.uint8, n_colors * 4, pal_off).reshape(n_colors, 4)
        idx = rows[:, :w]
        if int(idx.max()) >= n_colors:
            raise ValueError("palette index out of range")
        return pal[idx][:, :, [2, 1, 0]].copy()  # BGRA table -> RGB
    ch = bpp // 8
    px = rows[:, : w * ch].reshape(h, w, ch)
    return px[:, :, [2, 1, 0]].copy()  # BGR(A) -> RGB, alpha dropped


def encode_bmp(img: np.ndarray) -> bytes:
    """Fixture sibling of :func:`decode_bmp`: bottom-up 24-bit BI_RGB."""
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = img[::-1, :, [2, 1, 0]].reshape(h, w * 3)
    data = raster.tobytes()
    off = 14 + 40
    hdr = b"BM" + (off + len(data)).to_bytes(4, "little") + b"\x00" * 4 + off.to_bytes(4, "little")
    dib = (
        (40).to_bytes(4, "little") + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + b"\x00" * 4
        + len(data).to_bytes(4, "little") + b"\x00" * 16
    )
    return hdr + dib + data


def probe_webp(payload: bytes) -> dict:
    """WebP dimensions + variant without any VP8 decode: lossy 'VP8 '
    keyframes carry 14-bit dims at a fixed offset, lossless 'VP8L'
    packs them in the first 28 bits, extended 'VP8X' in a 24-bit
    canvas field. Raises ValueError on non-WebP."""
    if payload is None or len(payload) < 30 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    fourcc = payload[12:16]
    if fourcc == b"VP8 ":
        # keyframe: 3-byte frame tag, then 3-byte start code 9D 01 2A
        if payload[23:26] != b"\x9d\x01\x2a":
            raise ValueError("not a VP8 keyframe")
        w = int.from_bytes(payload[26:28], "little") & 0x3FFF
        h = int.from_bytes(payload[28:30], "little") & 0x3FFF
        return {"width": w, "height": h, "variant": "lossy", "has_alpha": False}
    if fourcc == b"VP8L":
        if payload[20] != 0x2F:
            raise ValueError("bad VP8L signature")
        bits = int.from_bytes(payload[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return {"width": w, "height": h, "variant": "lossless",
                "has_alpha": bool((bits >> 28) & 1)}
    if fourcc == b"VP8X":
        flags = payload[20]
        w = int.from_bytes(payload[24:27], "little") + 1
        h = int.from_bytes(payload[27:30], "little") + 1
        out = {"width": w, "height": h, "variant": "extended",
               "has_alpha": bool(flags & 0x10)}
        if flags & 0x02:  # animated (r12): count ANMF frames, no decode
            out["variant"] = "animated"
            n, total, loop = 0, 0, None
            pos = 12
            while pos + 8 <= len(payload):
                tag = payload[pos : pos + 4]
                size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
                body = payload[pos + 8 : pos + 8 + size]
                if tag == b"ANIM" and len(body) >= 6:
                    loop = int.from_bytes(body[4:6], "little")
                elif tag == b"ANMF" and len(body) >= 16:
                    n += 1
                    total += int.from_bytes(body[12:15], "little")
                pos += 8 + size + (size & 1)
            out["frame_count"] = n
            out["duration_ms"] = total
            out["loop_count"] = loop
        return out
    raise ValueError(f"unknown WebP chunk {fourcc!r}")

"""Crawl-data exception hygiene for every byte-level decoder.

A 100-TB crawl corpus contains bit-flipped, truncated and mislabeled
payloads as a matter of course. The Arrow kernels absorb ValueError
per row (multimodal.py feature/convert loops); any OTHER exception
type escapes and fails the whole Spark task, and a decoder that takes
minutes to reject a corrupt header is a per-record denial of service.
This battery pins both properties for each decoder: bit-flip + prefix-
truncation fuzz must produce only ValueError (or success), fast."""

from __future__ import annotations

import random
import struct
import time
import zlib

import numpy as np
import pytest

from trackintel_spark.scale._jpeg import decode_jpeg, encode_jpeg
from trackintel_spark.scale._vp8l import decode_webp, encode_webp
from trackintel_spark.scale.multimodal import (
    decode_bmp,
    decode_gif,
    decode_png,
    decode_ppm,
    decode_wav_pcm,
    encode_bmp,
    encode_gif,
    encode_png,
)

_IMG = (np.arange(24 * 24 * 3) % 256 // 32 * 32).astype(np.uint8).reshape(24, 24, 3)
_PCM = (np.sin(np.arange(500)) * 10000).astype("<i2").tobytes()
_WAV = (
    b"RIFF" + struct.pack("<I", 36 + len(_PCM)) + b"WAVEfmt "
    + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    + b"data" + struct.pack("<I", len(_PCM)) + _PCM
)


def _rgba(img):
    return np.dstack([img, np.full(img.shape[:2], 255, np.uint8)])


def _mk_prog():
    from trackintel_spark.scale._jpeg import encode_jpeg_progressive

    return encode_jpeg_progressive(_IMG, subsample=True)


def _mk_gif_anim():
    from trackintel_spark.scale.multimodal import encode_gif_anim

    q = (_IMG // 32) * 32  # <=256 unique colors
    return encode_gif_anim([q, q[:12, :16]], offsets=[(0, 0), (4, 4)],
                           durations=[30, 40], disposal=[0, 2])


def _mk_anim():
    from trackintel_spark.scale._vp8l import encode_webp_anim

    a = _rgba(_IMG)
    return encode_webp_anim([a, a[:12, :16]], offsets=[(0, 0), (4, 4)],
                            durations=[30, 40], dispose=[False, True])


CASES = [
    ("jpeg", lambda: encode_jpeg(_IMG), decode_jpeg),
    ("jpeg_prog", _mk_prog, decode_jpeg),
    ("png", lambda: encode_png(_IMG), decode_png),
    ("gif", lambda: encode_gif(_IMG), decode_gif),
    ("gif_anim", _mk_gif_anim, decode_gif),
    ("bmp", lambda: encode_bmp(_IMG), decode_bmp),
    ("webp_vp8l", lambda: encode_webp(_rgba(_IMG)), decode_webp),
    ("webp_anim", _mk_anim, decode_webp),
    ("wav", lambda: _WAV, decode_wav_pcm),
    ("ppm", lambda: b"P6\n24 24\n255\n" + _IMG.tobytes(), decode_ppm),
]


@pytest.mark.parametrize("name,mk,dec", CASES, ids=[c[0] for c in CASES])
def test_corrupt_payloads_raise_valueerror_fast(name, mk, dec):
    rng = random.Random(zlib.crc32(name.encode()))  # deterministic across runs
    good = bytearray(mk())
    t0 = time.time()
    for _ in range(150):
        data = bytearray(good)
        for _ in range(rng.randint(1, 10)):
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        try:
            dec(bytes(data))
        except ValueError:
            pass
    step = max(1, len(good) // 60)
    for cut in range(0, len(good), step):
        try:
            dec(bytes(good[:cut]))
        except ValueError:
            pass
    # the whole battery stays fast: no corrupt-header work explosions
    assert time.time() - t0 < 60, f"{name} decoder too slow on corrupt input"
    dec(bytes(good))  # and the pristine payload still decodes


def test_container_probes_corrupt_hygiene():
    """The metadata probes (no frame decode) get the same contract."""
    from trackintel_spark.scale.multimodal import (
        probe_gif,
        probe_mp3,
        probe_mp4,
        probe_webp,
    )

    mp4 = (b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isomiso2"
           + b"\x00\x00\x00\x08free" + b"\x00" * 64)
    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 400
    # lossy key frame: frame tag (3) + start code 9D012A + 14-bit dims
    vp8 = b"\x00" * 3 + b"\x9d\x01\x2a" + struct.pack("<HH", 24, 24) + b"\x00" * 8
    webp = b"RIFF" + struct.pack("<I", 12 + len(vp8)) + b"WEBPVP8 " + struct.pack("<I", len(vp8)) + vp8
    cases = [
        (probe_mp4, mp4),
        (probe_mp3, mp3),
        (probe_gif, encode_gif(_IMG)),
        (probe_webp, webp),
    ]
    rng = random.Random(3)
    for probe, good in cases:
        good = bytearray(good)
        for _ in range(150):
            data = bytearray(good)
            for _ in range(rng.randint(1, 10)):
                data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
            try:
                probe(bytes(data))
            except ValueError:
                pass
        for cut in range(len(good)):
            try:
                probe(bytes(good[:cut]))
            except ValueError:
                pass


def test_shapefile_record_parser_hygiene():
    from trackintel_spark.sources.shapefile import _parse_shape

    pts = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])
    buf = (struct.pack("<i", 3) + struct.pack("<4d", 0, 0, 10, 10)
           + struct.pack("<2i", 1, 3) + struct.pack("<i", 0) + pts.tobytes())
    rng = random.Random(3)
    for _ in range(300):
        data = bytearray(buf)
        for _ in range(rng.randint(1, 8)):
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        try:
            _parse_shape(bytes(data))
        except ValueError:
            pass
    for cut in range(len(buf)):
        try:
            _parse_shape(bytes(buf[:cut]))
        except ValueError:
            pass
    assert _parse_shape(buf).startswith("LINESTRING")

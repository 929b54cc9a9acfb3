"""Clean-room VP8L (lossless WebP) codec (scale/_vp8l.py).

Round-trips pin the encoder+decoder pair; the crafted-stream tests
build bitstreams BY HAND (header fields, transform records, Huffman
trees, LZ77/cache symbols written bit-by-bit from the spec) and check
the decoder recovers independently-computed pixels — so decoder bugs
cannot cancel against encoder bugs for the features the minimal
encoder never emits."""

import numpy as np
import pytest

from trackintel_spark.scale._vp8l import (
    _BitWriter,
    _canonical_codes,
    _write_huffman_code,
    decode_vp8l,
    decode_webp,
    encode_vp8l,
    encode_webp,
)


# ---- helpers to hand-build streams ------------------------------------------


def _header(bw, w, h, alpha=0):
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(alpha, 1)
    bw.write(0, 3)


def _emit(bw, codes, sym):
    code, n = codes[sym]
    for i in range(n - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _literal_trees(bw, greens, reds, blues, alphas, cache_size=0, with_dist=None):
    """Write the 5 trees for one group and return their code maps.
    Alphabets follow the spec: green 280+cache, r/g/b 256, distance 40."""
    maps = []
    for vals, asize in [
        (greens, 280 + cache_size),
        (reds, 256),
        (blues, 256),
        (alphas, 256),
        (with_dist or [0], 40),
    ]:
        uniq = sorted(set(vals))
        if len(uniq) == 1:
            lengths = {uniq[0]: 1}
            _write_huffman_code(bw, lengths, asize)
            maps.append({uniq[0]: (0, 0)})  # single symbol: zero bits
            continue
        nbits = max(1, int(np.ceil(np.log2(len(uniq)))))
        # flat code: give every symbol the same length (pad to pow2 with
        # dummy symbols so the Kraft sum closes)
        lengths = {s: nbits for s in uniq}
        pad = 0
        while len(lengths) < (1 << nbits):
            while pad in lengths:
                pad += 1
            lengths[pad] = nbits
        _write_huffman_code(bw, lengths, asize)
        full = [0] * asize
        for s, l in lengths.items():
            full[s] = l
        maps.append(_canonical_codes(full))
    return maps


# ---- round-trips (encoder + decoder pair) -----------------------------------


def test_roundtrip_random_images():
    rng = np.random.RandomState(42)
    for shape in [(1, 1, 3), (3, 5, 3), (8, 8, 4), (17, 9, 4), (1, 64, 3)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        out = decode_webp(encode_webp(img))
        assert out.shape == shape[:2] + (4,)
        assert (out[:, :, : shape[2]] == img).all()
        if shape[2] == 3:
            assert (out[:, :, 3] == 255).all()


def test_roundtrip_flat_and_gradient():
    flat = np.full((6, 6, 3), [9, 250, 100], dtype=np.uint8)
    assert (decode_webp(encode_webp(flat))[:, :, :3] == flat).all()
    grad = np.stack([np.tile(np.arange(48, dtype=np.uint8), (16, 1))] * 3, axis=-1)
    assert (decode_webp(encode_webp(grad))[:, :, :3] == grad).all()


def _riff(*chunks):
    body = b"".join(
        tag + len(c).to_bytes(4, "little") + c + (b"\x00" if len(c) & 1 else b"")
        for tag, c in chunks
    )
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WEBP" + body


# lossy key-frame header: frame tag (3) + start code 9D012A + 14-bit dims
_VP8_KEYFRAME = (
    b"\x00" * 3 + b"\x9d\x01\x2a" + (16).to_bytes(2, "little") + (16).to_bytes(2, "little")
    + b"\x00" * 8
)


def test_container_rejects_garbage_routes_lossy():
    with pytest.raises(ValueError, match="not a WebP"):
        decode_webp(b"RIFFxxxxJUNK")
    # lossy VP8 is not decoded: a clean per-row ValueError, whatever
    # the body holds
    lossy = b"RIFF" + (20).to_bytes(4, "little") + b"WEBP" + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4
    with pytest.raises(ValueError, match="VP8"):
        decode_webp(lossy)


def test_lossy_webp_fails_per_row_and_passes_resize_through(spark):
    """Lossy WebP (a bare still, a VP8X+ALPH still, an ANMF frame) is
    not decoded: decode_webp and the image kernel's decoder raise the
    per-row ValueError, image_features records NULL fields, and
    resize_images returns the payload byte for byte."""
    from trackintel_spark.scale.multimodal import (
        _decode_image_rgb,
        image_features,
        resize_images,
    )

    vp8x = bytes([0x10, 0, 0, 0]) + (15).to_bytes(3, "little") + (15).to_bytes(3, "little")
    payloads = {
        1: _riff((b"VP8 ", _VP8_KEYFRAME)),
        2: _riff((b"VP8X", vp8x), (b"ALPH", bytes([0]) + b"\x80" * 256), (b"VP8 ", _VP8_KEYFRAME)),
        3: _riff(
            (b"VP8X", bytes([0x02]) + vp8x[1:]),
            (b"ANIM", bytes(6)),
            (b"ANMF", bytes(6) + vp8x[4:] + bytes(4)
             + b"VP8 " + len(_VP8_KEYFRAME).to_bytes(4, "little") + _VP8_KEYFRAME),
        ),
    }
    for payload in payloads.values():
        with pytest.raises(ValueError, match="lossy"):
            decode_webp(payload)
        with pytest.raises(ValueError, match="lossy"):
            _decode_image_rgb(payload)
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()], "doc_id long, payload binary"
    )
    assert all(r.width is None and r.mean_r is None for r in image_features(df).collect())
    resized = {r.doc_id: bytes(r.payload) for r in resize_images(df, 4, 4).collect()}
    assert resized == payloads


# ---- crafted streams: features the encoder never emits ----------------------


def test_crafted_lz77_backward_reference():
    # 6x1: two literals then a length-4 copy at distance 2.
    # length 4 -> prefix code 3 (codes 0-3 map to 1-4, no extra bits);
    # distance 2 -> plane code 122 (= 2 + 120, the beyond-map branch),
    # whose prefix code is 13 with 5 extra bits of value 25.
    bw = _BitWriter()
    _header(bw, 6, 1)
    bw.write(0, 1)  # no transform
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    g, r, b, a, d = _literal_trees(
        bw, greens=[2, 5, 256 + 3], reds=[1, 4], blues=[3, 6], alphas=[255], with_dist=[13]
    )
    _emit(bw, g, 2); _emit(bw, r, 1); _emit(bw, b, 3)   # p0 = (255,1,2,3)
    _emit(bw, g, 5); _emit(bw, r, 4); _emit(bw, b, 6)   # p1 = (255,4,5,6)
    _emit(bw, g, 256 + 3)                                # length code
    _emit(bw, d, 13)
    bw.write(25, 5)                                      # distance 122 -> 2
    out = decode_vp8l(bw.bytes())
    want = np.array(
        [[[1, 2, 3, 255], [4, 5, 6, 255], [1, 2, 3, 255], [4, 5, 6, 255],
          [1, 2, 3, 255], [4, 5, 6, 255]]],
        dtype=np.uint8,
    )
    assert (out == want).all()


def test_crafted_color_cache_hit():
    # cache_bits=4; p0 literal, p1 = cache hit of p0.
    cache_bits = 4
    v = (255 << 24) | (7 << 16) | (9 << 8) | 11  # ARGB of p0
    idx = ((0x1E35A7BD * v) & 0xFFFFFFFF) >> (32 - cache_bits)
    bw = _BitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)           # no transform
    bw.write(1, 1)           # cache present
    bw.write(cache_bits, 4)
    bw.write(0, 1)           # no meta
    g, r, b, a, _ = _literal_trees(
        bw, greens=[9, 280 + idx], reds=[7], blues=[11], alphas=[255],
        cache_size=1 << cache_bits,
    )
    _emit(bw, g, 9); _emit(bw, r, 7); _emit(bw, b, 11)
    _emit(bw, g, 280 + idx)
    out = decode_vp8l(bw.bytes())
    assert (out == np.array([[[7, 9, 11, 255], [7, 9, 11, 255]]], dtype=np.uint8)).all()


def test_crafted_subtract_green_transform():
    # 2x1 with subtract-green: residual (r=10, g=100, b=20) decodes to
    # r=110, b=120 after the inverse add (mod 256).
    bw = _BitWriter()
    _header(bw, 2, 1)
    bw.write(1, 1); bw.write(2, 2)   # transform: subtract green
    bw.write(0, 1)                   # no more transforms
    bw.write(0, 1); bw.write(0, 1)   # no cache, no meta
    g, r, b, a, _ = _literal_trees(bw, greens=[100, 200], reds=[10], blues=[20], alphas=[255])
    _emit(bw, g, 100); _emit(bw, r, 10); _emit(bw, b, 20)
    _emit(bw, g, 200); _emit(bw, r, 10); _emit(bw, b, 20)
    out = decode_vp8l(bw.bytes())
    assert tuple(out[0, 0]) == (110, 100, 120, 255)
    assert tuple(out[0, 1]) == ((10 + 200) % 256, 200, (20 + 200) % 256, 255)


def test_crafted_color_indexing_with_bundling():
    # palette of 3 colors -> 2 bits/index, 4 indices per green byte;
    # 5 true pixels pack into a 2-pixel-wide image. Palette rows are
    # DELTA-coded per channel.
    palette = np.array(
        [[10, 20, 30, 255], [50, 60, 70, 255], [200, 210, 220, 255]], dtype=np.int64
    )  # RGBA
    deltas = palette.copy()
    deltas[1:] = (palette[1:] - palette[:-1]) % 256
    bw = _BitWriter()
    _header(bw, 5, 1)
    bw.write(1, 1); bw.write(3, 2)   # transform: color indexing
    bw.write(3 - 1, 8)               # palette size
    # palette sub-image: [cache bit][trees][pixels] — every sub-image
    # carries its own color-cache field
    bw.write(0, 1)
    pg, pr, pb, pa, _ = _literal_trees(
        bw,
        greens=[int(d[1]) for d in deltas],
        reds=[int(d[0]) for d in deltas],
        blues=[int(d[2]) for d in deltas],
        alphas=[int(d[3]) for d in deltas],
    )
    for d in deltas:
        _emit(bw, pg, int(d[1])); _emit(bw, pr, int(d[0]))
        _emit(bw, pb, int(d[2])); _emit(bw, pa, int(d[3]))
    bw.write(0, 1)                   # no more transforms
    bw.write(0, 1); bw.write(0, 1)   # no cache, no meta
    # packed image: indices [0,1,2,1, 2] -> bytes [0|1<<2|2<<4|1<<6, 2]
    b0 = 0 | (1 << 2) | (2 << 4) | (1 << 6)
    g, r, b, a, _ = _literal_trees(bw, greens=[b0, 2], reds=[0], blues=[0], alphas=[0])
    for gv in (b0, 2):
        _emit(bw, g, gv); _emit(bw, r, 0); _emit(bw, b, 0)
    out = decode_vp8l(bw.bytes())
    want = palette[[0, 1, 2, 1, 2]].astype(np.uint8)[None, :, :]
    assert (out == want).all()


def test_crafted_predictor_transform_mode_T():
    # 2x2, block bits=2 (one block), predictor mode 2 (= top pixel).
    # residuals chosen so absolute pixels are easy to verify:
    # p(0,0): pred = opaque black (a+=255); row 0 then predicts from L,
    # col 0 from T, and p(1,1) from T under mode 2.
    bw = _BitWriter()
    _header(bw, 2, 2)
    bw.write(1, 1); bw.write(0, 2)   # transform: predictor
    bw.write(0, 3)                   # size_bits = 2
    # 1x1 mode image: [cache bit] then GREEN byte = mode 2
    bw.write(0, 1)
    mg, mr, mb, ma, _ = _literal_trees(bw, greens=[2], reds=[0], blues=[0], alphas=[0])
    _emit(bw, mg, 2); _emit(bw, mr, 0); _emit(bw, mb, 0)
    bw.write(0, 1)                   # no more transforms
    bw.write(0, 1); bw.write(0, 1)   # no cache, no meta
    res = [(5, 6, 7, 0), (1, 1, 1, 0), (2, 2, 2, 0), (3, 3, 3, 5)]  # (r,g,b,a) residuals
    g, r, b, a, _ = _literal_trees(
        bw,
        greens=[x[1] for x in res],
        reds=[x[0] for x in res],
        blues=[x[2] for x in res],
        alphas=[x[3] for x in res],
    )
    for rr, gg, bb, aa in res:
        _emit(bw, g, gg); _emit(bw, r, rr); _emit(bw, b, bb); _emit(bw, a, aa)
    out = decode_vp8l(bw.bytes())
    # p00 = res0 + (0,0,0,255) = (5,6,7,255)
    assert tuple(out[0, 0]) == (5, 6, 7, 255)
    # p01 (row 0) = p00 + res1
    assert tuple(out[0, 1]) == (6, 7, 8, 255)
    # p10 (col 0) = p00 + res2
    assert tuple(out[1, 0]) == (7, 8, 9, 255)
    # p11 (mode T) = p01 + res3 (alpha wraps: 255+5 = 4 mod 256)
    assert tuple(out[1, 1]) == (9, 10, 11, 4)


def test_crafted_color_transform():
    # 1x1 CTE with g2r=2, g2b=3, r2b=4 applied to one residual pixel.
    g2r, g2b, r2b = 2, 3, 4
    res_r, res_g, res_b = 100, 64, 50
    bw = _BitWriter()
    _header(bw, 1, 1)
    bw.write(1, 1); bw.write(1, 2)   # transform: color
    bw.write(0, 3)                   # size_bits = 2
    # CTE pixel (own cache bit first): RED byte = r2b, GREEN = g2b, BLUE = g2r
    bw.write(0, 1)
    cg, cr, cb, ca, _ = _literal_trees(bw, greens=[g2b], reds=[r2b], blues=[g2r], alphas=[0])
    _emit(bw, cg, g2b); _emit(bw, cr, r2b); _emit(bw, cb, g2r)
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    g, r, b, a, _ = _literal_trees(bw, greens=[res_g], reds=[res_r], blues=[res_b], alphas=[255])
    _emit(bw, g, res_g); _emit(bw, r, res_r); _emit(bw, b, res_b)
    out = decode_vp8l(bw.bytes())

    def delta(t, c):
        ti = t if t < 128 else t - 256
        ci = c if c < 128 else c - 256
        return (ti * ci) >> 5

    want_r = (res_r + delta(g2r, res_g)) & 0xFF
    want_b = (res_b + delta(g2b, res_g) + delta(r2b, want_r)) & 0xFF
    assert tuple(out[0, 0]) == (want_r, res_g, want_b, 255)


def test_crafted_meta_huffman_two_groups():
    # 8x1 with meta_bits=2: two 4-pixel blocks using different groups,
    # each group literal-only with a distinct constant pixel.
    bw = _BitWriter()
    _header(bw, 8, 1)
    bw.write(0, 1)                   # no transform
    bw.write(0, 1)                   # no cache
    bw.write(1, 1)                   # meta present
    bw.write(0, 3)                   # meta_bits = 2 -> 2x1 entropy image
    # entropy image (own cache bit): group index = (red<<8)|green -> 0 and 1
    bw.write(0, 1)
    eg, er, eb, ea, _ = _literal_trees(bw, greens=[0, 1], reds=[0], blues=[0], alphas=[0])
    _emit(bw, eg, 0); _emit(bw, er, 0); _emit(bw, eb, 0)
    _emit(bw, eg, 1); _emit(bw, er, 0); _emit(bw, eb, 0)
    # group 0: pixel (1,2,3,255); group 1: pixel (4,5,6,255)
    g0 = _literal_trees(bw, greens=[2], reds=[1], blues=[3], alphas=[255])
    g1 = _literal_trees(bw, greens=[5], reds=[4], blues=[6], alphas=[255])
    for x in range(8):
        g, r, b, a, _ = g0 if x < 4 else g1
        if x < 4:
            _emit(bw, g, 2); _emit(bw, r, 1); _emit(bw, b, 3)
        else:
            _emit(bw, g, 5); _emit(bw, r, 4); _emit(bw, b, 6)
    out = decode_vp8l(bw.bytes())
    assert (out[0, :4] == np.array([1, 2, 3, 255], dtype=np.uint8)).all()
    assert (out[0, 4:] == np.array([4, 5, 6, 255], dtype=np.uint8)).all()


# ---- kernel integration ------------------------------------------------------


def test_webp_through_image_kernels(spark):
    from trackintel_spark.scale._vp8l import decode_webp as dw
    from trackintel_spark.scale.multimodal import (
        attach_media_metadata,
        image_features,
        resize_images,
    )

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[:, :, 2] = 180
    df = spark.createDataFrame([(1, bytearray(encode_webp(img)))], "doc_id long, payload binary")
    meta = attach_media_metadata(df).collect()[0].media_meta
    assert meta["format"] == "webp" and meta["media_type"] == "image"
    f = image_features(df).collect()[0]
    assert f.width == 8 and f.mean_b == 180.0 and f.mean_r == 0.0
    resized = resize_images(df, 4, 4).collect()[0]
    assert dw(bytes(resized.payload)).shape == (4, 4, 4)


def test_decoder_rejects_garbage_without_hanging():
    """Malformed streams must raise promptly (truncation, bad codes,
    out-of-range LZ77) — a crawl decode kernel cannot hang a task."""
    import itertools

    rng = np.random.RandomState(0)
    rejected = 0
    for n in itertools.chain([0, 1, 2, 5], [16] * 8, [64] * 8):
        blob = bytes([0x2F]) + rng.bytes(n)
        try:
            decode_vp8l(blob)
        except (ValueError, NotImplementedError):
            rejected += 1
    assert rejected >= 18  # essentially everything random must reject


def test_distance_map_matches_spec_table_prefix():
    """The 2D distance map's tie order is LARGER y first, then positive
    x before negative — the spec's published table, pinned here against
    its first 22 entries (a generated (d2, y, x)-ascending order passes
    far-distance tests but breaks every close LZ77 reference)."""
    from trackintel_spark.scale._vp8l import _DIST_MAP

    want = [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2),
    ]
    assert _DIST_MAP[:22] == want
    assert len(_DIST_MAP) == 120


def test_crafted_lz77_close_distance_via_map():
    # plane code 2 -> map entry (1, 0) -> distance 1: a run of the
    # previous pixel. 4x1: one literal then a length-3 run.
    bw = _BitWriter()
    _header(bw, 4, 1)
    bw.write(0, 1); bw.write(0, 1); bw.write(0, 1)
    g, r, b, a, d = _literal_trees(
        bw, greens=[8, 256 + 2], reds=[7], blues=[6], alphas=[255], with_dist=[1]
    )
    _emit(bw, g, 8); _emit(bw, r, 7); _emit(bw, b, 6)
    _emit(bw, g, 256 + 2)   # length prefix code 2 -> 3
    _emit(bw, d, 1)         # distance prefix code 1 -> plane 2 -> map (1,0) -> dist 1
    out = decode_vp8l(bw.bytes())
    want = np.tile(np.array([7, 8, 6, 255], dtype=np.uint8), (1, 4, 1))
    assert (out == want).all()


def test_crafted_predictor_mode13_truncating_division():
    """ClampAddSubtractHalf uses C's truncate-toward-zero division;
    floor division differs on negative odd deltas (avg=4, TL=7 ->
    trunc(-3/2) = -1, floor = -2)."""
    bw = _BitWriter()
    _header(bw, 2, 2)
    bw.write(1, 1); bw.write(0, 2)   # predictor transform
    bw.write(0, 3)                   # size_bits = 2 (one block)
    bw.write(0, 1)                   # mode sub-image cache bit
    mg, mr, mb, ma, _ = _literal_trees(bw, greens=[13], reds=[0], blues=[0], alphas=[0])
    _emit(bw, mg, 13); _emit(bw, mr, 0); _emit(bw, mb, 0)
    bw.write(0, 1)                   # no more transforms
    bw.write(0, 1); bw.write(0, 1)   # no cache, no meta
    # residuals (r,g,b,a): p00 = 7 (TL), p01 = 5 (T), p10 = 4 (L)
    res = [(7, 7, 7, 0), (254, 254, 254, 0), (253, 253, 253, 0), (0, 0, 0, 0)]
    g, r, b, a, _ = _literal_trees(
        bw,
        greens=[x[1] for x in res], reds=[x[0] for x in res],
        blues=[x[2] for x in res], alphas=[x[3] for x in res],
    )
    for rr, gg, bb, aa in res:
        _emit(bw, g, gg); _emit(bw, r, rr); _emit(bw, b, bb); _emit(bw, a, aa)
    out = decode_vp8l(bw.bytes())
    assert tuple(out[0, 0][:3]) == (7, 7, 7)
    assert tuple(out[0, 1][:3]) == (5, 5, 5)
    assert tuple(out[1, 0][:3]) == (4, 4, 4)
    # avg2(4,5)=4; pred = clamp(4 + trunc((4-7)/2)) = 3; +res 0
    assert tuple(out[1, 1][:3]) == (3, 3, 3)


# ---------------------------------------------------------------------------
# animated WebP (ANIM/ANMF, r12)
# ---------------------------------------------------------------------------


def _rgba(img):
    import numpy as np

    if img.shape[2] == 4:
        return img
    return np.dstack([img, np.full(img.shape[:2], 255, np.uint8)])


def test_animated_webp_compositing_matches_reference():
    """decode_webp_frames vs an INDEPENDENT numpy compositor: canvas
    starts transparent, frames land at their offsets with alpha-blend
    or overwrite, dispose-to-background clears the rectangle. Lossless
    VP8L frames make every comparison exact."""
    import numpy as np

    from trackintel_spark.scale._vp8l import decode_webp_frames, encode_webp_anim

    rng = np.random.default_rng(5)
    n = 5
    cw, ch = 34, 26
    frames, offs, durs, disp, nb = [], [], [], [], []
    for i in range(n):
        fw, fh = 6 + 4 * i, 4 + 4 * i
        f = rng.integers(0, 256, (fh, fw, 4), dtype=np.uint8)
        if i % 2:
            f[:, :, 3] = rng.integers(0, 256, (fh, fw), dtype=np.uint8)
        frames.append(f)
        offs.append((2 * (i % 3), 2 * (i % 4)))
        durs.append(30 + i)
        disp.append(i % 3 == 1)
        nb.append(i % 2 == 0)
    data = encode_webp_anim(frames, canvas_size=(cw, ch), offsets=offs,
                            durations=durs, dispose=disp, no_blend=nb, loop=2)
    got = decode_webp_frames(data)
    assert [d for _, d in got] == durs

    canvas = np.zeros((ch, cw, 4), dtype=np.float64)
    for i, (f, (x, y)) in enumerate(zip(frames, offs)):
        fh, fw = f.shape[:2]
        reg = canvas[y : y + fh, x : x + fw]
        if nb[i]:
            reg[:] = f
        else:
            sa = f[:, :, 3:4] / 255.0
            da = reg[:, :, 3:4] / 255.0
            oa = sa + da * (1 - sa)
            rgb = f[:, :, :3] * sa + reg[:, :, :3] * da * (1 - sa)
            reg[:, :, :3] = np.round(rgb / np.where(oa == 0, 1, oa)).clip(0, 255)
            reg[:, :, 3:4] = np.round(oa * 255)
        assert (got[i][0] == canvas.astype(np.uint8)).all(), f"frame {i}"
        if disp[i]:
            canvas[y : y + fh, x : x + fw] = 0


def test_animated_webp_dispose_leaves_transparent_hole():
    import numpy as np

    from trackintel_spark.scale._vp8l import decode_webp_frames, encode_webp_anim

    base = np.full((16, 16, 4), [200, 10, 10, 255], dtype=np.uint8)
    patch = np.full((8, 8, 4), [10, 200, 10, 255], dtype=np.uint8)
    dot = np.full((2, 2, 4), [10, 10, 200, 255], dtype=np.uint8)
    data = encode_webp_anim(
        [base, patch, dot], canvas_size=(16, 16),
        offsets=[(0, 0), (4, 4), (0, 0)],
        dispose=[False, True, False], no_blend=[True, True, True],
    )
    f0, f1, f2 = [f for f, _ in decode_webp_frames(data)]
    assert (f1[4:12, 4:12] == patch).all()
    # after dispose, frame 2 shows a transparent hole where patch was
    assert (f2[4:12, 4:12, 3] == 0).all()
    assert (f2[0:2, 0:2] == dot).all()
    assert (f2[14:, 14:] == base[14:, 14:]).all()


def test_animated_webp_first_frame_and_probe(monkeypatch):
    """decode_webp == first composited frame; probe_webp reports frame
    count / total duration / loop without decoding; image_features
    yields first-frame stats; resize_images passes animations through
    UNCHANGED (a still thumbnail would silently drop the animation)."""
    import numpy as np

    from trackintel_spark.scale._vp8l import decode_webp, encode_webp_anim
    from trackintel_spark.scale.multimodal import _decode_image_rgb, probe_webp

    a = np.full((10, 12, 4), [5, 100, 200, 255], dtype=np.uint8)
    b = np.full((10, 12, 4), [250, 5, 5, 255], dtype=np.uint8)
    data = encode_webp_anim([a, b], durations=[40, 60], loop=7)
    assert (decode_webp(data) == a).all()
    assert (_decode_image_rgb(data) == a[:, :, :3]).all()
    m = probe_webp(data)
    assert m["variant"] == "animated" and m["frame_count"] == 2
    assert m["duration_ms"] == 100 and m["loop_count"] == 7
    assert (m["width"], m["height"]) == (12, 10)


def test_animated_webp_through_spark_kernels(spark):
    import numpy as np

    from trackintel_spark.scale._vp8l import encode_webp_anim
    from trackintel_spark.scale.multimodal import image_features, resize_images

    a = np.full((10, 12, 4), [5, 100, 200, 255], dtype=np.uint8)
    b = np.full((10, 12, 4), [250, 5, 5, 255], dtype=np.uint8)
    data = encode_webp_anim([a, b])
    df = spark.createDataFrame([(1, bytearray(data))], "doc_id long, payload binary")
    f = image_features(df).collect()[0]
    assert (f.width, f.height) == (12, 10)
    assert abs(f.mean_r - 5) < 1 and abs(f.mean_b - 200) < 1
    out = bytes(resize_images(df, 4, 4).collect()[0].payload)
    assert out == data  # pass-through, not a still thumbnail


def test_animated_webp_hygiene():
    """Corrupt animations honor the decoder contract: frame rect
    outside the canvas, dims mismatch, truncated ANMF header and a
    bit-flip battery all raise ValueError only."""
    import random
    import zlib

    import numpy as np
    import pytest

    from trackintel_spark.scale._vp8l import decode_webp_frames, encode_webp_anim

    a = np.full((8, 8, 4), 99, dtype=np.uint8)
    good = encode_webp_anim([a, a], offsets=[(0, 0), (2, 2)], canvas_size=(10, 10))
    with pytest.raises(ValueError, match="outside canvas"):
        bad = bytearray(good)
        i = bad.find(b"ANMF")
        bad[i + 8 : i + 11] = (30).to_bytes(3, "little")  # fx=60 > canvas
        decode_webp_frames(bytes(bad))
    rng = random.Random(zlib.crc32(b"anim"))
    for _ in range(200):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 8)):
            bad[rng.randrange(len(bad))] ^= 1 << rng.randrange(8)
        try:
            decode_webp_frames(bytes(bad))
        except ValueError:
            pass
    for cut in range(0, len(good), 5):
        try:
            decode_webp_frames(bytes(good[:cut]))
        except ValueError:
            pass

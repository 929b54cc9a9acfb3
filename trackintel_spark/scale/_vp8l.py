"""Clean-room VP8L (lossless WebP) codec in plain Python + numpy.

Implements the public "WebP Lossless Bitstream Specification"
(https://developers.google.com/speed/webp/docs/webp_lossless_bitstream_specification):

* the DECODER covers the full format — simple and normal (code-length-
  coded) Huffman codes, meta-Huffman entropy images, the color cache,
  LZ77 backward references with the 2D distance map, and all four
  transforms (predictor with its 14 modes, color, subtract-green,
  color-indexing incl. sub-byte pixel bundling);
* the ENCODER is deliberately minimal but fully general: literals-only
  (no LZ77, no cache, no transforms), one Huffman group, canonical
  codes emitted through the code-length code — enough to round-trip
  any RGBA image exactly and to synthesize deterministic fixtures.

Like ``_jpeg.py`` and the GIF LZW codec, this exists so the multimodal
kernels decode real web image bytes without any codec library in the
container. Lossy WebP (a ``VP8 `` chunk, still or animation frame) is
not decoded: it raises the per-row ValueError, so ``image_features``
records the error and ``resize_images`` passes the payload through
unchanged.

Performance envelope: correctness-first. Huffman decode and the
predictor inverse are inherently sequential per pixel and run in plain
Python (~80k px/s; a 128x128 image decodes in ~0.2 s), which is fine
for fixtures, metadata-driven curation and spot decodes inside the
Arrow kernels. A throughput deployment decoding full crawl images
swaps in a native codec behind the same ``decode_webp`` signature —
the Spark-side plumbing (schema, batching, routing) is the part this
repo owns.

No counterpart in the reference repo (mie-lab/trackintel has no media
handling); this supports the LLM-pipeline extension surface only.
"""

from __future__ import annotations

import struct

import numpy as np

# -- bit I/O (VP8L is LSB-first within bytes) --------------------------------


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.byte >= len(self.data):
                raise ValueError("VP8L: truncated bitstream")
            v |= ((self.data[self.byte] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self.cur |= ((value >> i) & 1) << self.nbits
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.nbits = 0

    def bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0
        return bytes(self.out)


# -- canonical Huffman ---------------------------------------------------------

_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical (RFC 1951 / VP8L)
    assignment: shorter codes first, ties by symbol order."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for l in lengths:
        if l:
            bl_count[l] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for b in range(1, max_len + 1):
        code = (code + bl_count[b - 1]) << 1
        next_code[b] = code
    out = {}
    for sym, l in enumerate(lengths):
        if l:
            out[sym] = (next_code[l], l)
            next_code[l] += 1
    return out


class _HuffTree:
    """Decoder for one prefix code. VP8L reads codes MSB-first relative
    to the canonical code value while the bitstream itself is LSB-first
    — each successive bit descends one tree level."""

    __slots__ = ("single", "table")

    def __init__(self, lengths: list[int]):
        nonzero = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not nonzero:
            raise ValueError("VP8L: empty Huffman code")
        if len(nonzero) == 1:
            self.single = nonzero[0][0]
            self.table = None
            return
        self.single = None
        codes = _canonical_codes(lengths)
        # nested dict keyed bit-by-bit
        root: dict = {}
        for sym, (code, l) in codes.items():
            node = root
            for i in range(l - 1, 0, -1):
                node = node.setdefault((code >> i) & 1, {})
                if not isinstance(node, dict):
                    raise ValueError("VP8L: non-prefix code")
            if (code & 1) in node:
                raise ValueError("VP8L: non-prefix code")
            node[code & 1] = sym
        self.table = root

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        node = self.table
        while True:
            b = br.read(1)
            nxt = node.get(b)
            if nxt is None:
                raise ValueError("VP8L: invalid Huffman code in stream")
            if isinstance(nxt, dict):
                node = nxt
            else:
                return nxt


def _read_code_lengths(br: _BitReader, cl_tree: _HuffTree, num_symbols: int,
                       max_readable: int | None) -> list[int]:
    """The code-length sub-decoder: symbols 0-15 literal, 16 repeats the
    previous nonzero length 3+read(2) times, 17/18 repeat zero
    3+read(3) / 11+read(7) times; ``max_readable`` caps how many
    code-length SYMBOLS may be consumed (the use_length shortcut)."""
    lengths = [0] * num_symbols
    prev = 8
    i = 0
    budget = max_readable if max_readable is not None else num_symbols
    while i < num_symbols and budget > 0:
        budget -= 1
        s = cl_tree.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i >= num_symbols:
                    raise ValueError("VP8L: code-length repeat overflow")
                lengths[i] = prev
                i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
        if i > num_symbols:
            raise ValueError("VP8L: code-length repeat overflow")
    return lengths


def _read_huffman_code(br: _BitReader, alphabet_size: int) -> _HuffTree:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        sym0 = br.read(8 if first_8bit else 1)
        lengths = [0] * alphabet_size
        if sym0 >= alphabet_size:  # an 8-bit symbol can exceed a small
            raise ValueError("VP8L: bad simple code symbols")  # alphabet (dist=40)
        if num_symbols == 1:
            lengths[sym0] = 1  # _HuffTree collapses 1 symbol to 0 bits
        else:
            sym1 = br.read(8)
            if sym0 >= alphabet_size or sym1 >= alphabet_size or sym0 == sym1:
                raise ValueError("VP8L: bad simple code symbols")
            lengths[sym0] = lengths[sym1] = 1
        return _HuffTree(lengths)
    # normal code: 19-entry code-length code, 3 bits each, spec order
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_tree = _HuffTree(cl_lengths)
    max_readable = None
    if br.read(1):  # use_length shortcut
        length_nbits = 2 + 2 * br.read(3)
        max_readable = 2 + br.read(length_nbits)
    lengths = _read_code_lengths(br, cl_tree, alphabet_size, max_readable)
    return _HuffTree(lengths)


# -- LZ77 prefix coding and the 2D distance map -------------------------------


def _prefix_decode(br: _BitReader, code: int) -> int:
    """length/distance prefix decode: codes 0-3 map to 1-4, above that
    each pair of codes doubles the extra-bit count."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _build_distance_map() -> list[tuple[int, int]]:
    # the 120 closest (x, y) neighbors, ordered by squared distance with
    # ties broken by LARGER y first, then larger x (positive before
    # negative) — reproduces the spec's published table exactly:
    # (0,1), (1,0), (1,1), (-1,1), (0,2), (2,0), (1,2), (-1,2), (2,1), ...
    pts = []
    for y in range(9):
        for x in range(-8, 9):
            if y == 0 and x <= 0:
                continue
            pts.append((x * x + y * y, -y, -x))
    pts.sort()
    return [(-x, -y) for _, y, x in pts[:120]]


_DIST_MAP = _build_distance_map()


def _plane_to_distance(plane_code: int, xsize: int) -> int:
    if plane_code > 120:
        return plane_code - 120
    dx, dy = _DIST_MAP[plane_code - 1]
    d = dy * xsize + dx
    return max(d, 1)


# -- entropy-coded image -------------------------------------------------------


_GREEN_BASE = 256 + 24  # literals + length codes; cache symbols follow


def _read_entropy_image(br: _BitReader, w: int, h: int, allow_meta: bool) -> np.ndarray:
    """Decode one entropy-coded ARGB image of w x h (no transforms) into
    an (h, w, 4) uint8 array ordered [A, R, G, B]."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L: bad color cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        meta_bits = br.read(3) + 2
        ew = (w + (1 << meta_bits) - 1) >> meta_bits
        eh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _read_entropy_image(br, ew, eh, allow_meta=False)
        meta = (meta_img[:, :, 1].astype(np.int64) << 8) | meta_img[:, :, 2]
        n_groups = int(meta.max()) + 1

    alphabets = [_GREEN_BASE + cache_size, 256, 256, 256, 40]
    groups = []
    for _ in range(n_groups):
        groups.append([_read_huffman_code(br, a) for a in alphabets])

    n = w * h
    argb = np.zeros((n, 4), dtype=np.uint8)  # A, R, G, B
    pos = 0

    def cache_insert(a, r, g, b):
        if cache_size:
            v = (a << 24) | (r << 16) | (g << 8) | b
            cache[((0x1E35A7BD * v) & 0xFFFFFFFF) >> (32 - cache_bits)] = v

    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            g_idx = int(meta[y >> meta_bits, x >> meta_bits])
            trees = groups[g_idx]
        else:
            trees = groups[0]
        sym = trees[0].read(br)
        if sym < 256:  # literal: green, then red, blue, alpha
            g = sym
            r = trees[1].read(br)
            b = trees[2].read(br)
            a = trees[3].read(br)
            argb[pos] = (a, r, g, b)
            cache_insert(a, r, g, b)
            pos += 1
        elif sym < _GREEN_BASE:  # LZ77 backward reference
            length = _prefix_decode(br, sym - 256)
            dist_code = trees[4].read(br)
            plane = _prefix_decode(br, dist_code)
            dist = _plane_to_distance(plane, w)
            if dist > pos or pos + length > n:
                raise ValueError("VP8L: LZ77 reference out of range")
            for _ in range(length):
                argb[pos] = argb[pos - dist]
                a, r, g, b = (int(v) for v in argb[pos])
                cache_insert(a, r, g, b)
                pos += 1
        else:  # color cache hit
            if not cache_size:
                raise ValueError("VP8L: cache symbol without cache")
            v = cache[sym - _GREEN_BASE]
            argb[pos] = ((v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)
            pos += 1
    return argb.reshape(h, w, 4)


# -- transforms ----------------------------------------------------------------


def _avg2(a, b):
    return (a.astype(np.uint16) + b.astype(np.uint16)) // 2


def _inverse_predictor(img: np.ndarray, modes: np.ndarray, bits: int) -> np.ndarray:
    h, w, _ = img.shape
    out = img.astype(np.int32)

    def px(y, x):
        return out[y, x]

    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int32)  # opaque black
            elif y == 0:
                pred = px(0, x - 1)
            elif x == 0:
                pred = px(y - 1, 0)
            else:
                mode = int(modes[y >> bits, x >> bits])
                L = px(y, x - 1)
                T = px(y - 1, x)
                TL = px(y - 1, x - 1)
                # TR at the right edge follows the contiguous-ARGB-buffer
                # semantics (data[pos - width + 1]): it is pixel (y, 0)
                # of the CURRENT row, already decoded at that point.
                TR = px(y - 1, x + 1) if x + 1 < w else px(y, 0)
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int32)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T).astype(np.int32)
                elif mode == 6:
                    pred = _avg2(L, TL).astype(np.int32)
                elif mode == 7:
                    pred = _avg2(L, T).astype(np.int32)
                elif mode == 8:
                    pred = _avg2(TL, T).astype(np.int32)
                elif mode == 9:
                    pred = _avg2(T, TR).astype(np.int32)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR)).astype(np.int32)
                elif mode == 11:  # Select
                    p = L + T - TL
                    pL = int(np.abs(p - L).sum())
                    pT = int(np.abs(p - T).sum())
                    pred = L if pL < pT else T
                elif mode == 12:  # ClampAddSubtractFull
                    pred = np.clip(L + T - TL, 0, 255)
                elif mode == 13:  # ClampAddSubtractHalf
                    avg = _avg2(L, T).astype(np.int32)
                    # C's (a - b) / 2 truncates toward zero; numpy //
                    # floors — they differ on negative odd deltas
                    d = avg - TL
                    half = np.sign(d) * (np.abs(d) // 2)
                    pred = np.clip(avg + half, 0, 255)
                else:
                    raise ValueError(f"VP8L: predictor mode {mode}")
            out[y, x] = (out[y, x] + pred) & 0xFF
    return out.astype(np.uint8)


def _delta(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    # (int8(t) * int8(c)) >> 5, arithmetic shift
    ti = t.astype(np.int8).astype(np.int32)
    ci = c.astype(np.int8).astype(np.int32)
    return (ti * ci) >> 5


def _inverse_color_transform(img: np.ndarray, cte: np.ndarray, bits: int) -> np.ndarray:
    h, w, _ = img.shape
    ys = (np.arange(h) >> bits)[:, None]
    xs = (np.arange(w) >> bits)[None, :]
    g2r = cte[ys, xs, 3]  # blue byte of the CTE pixel
    g2b = cte[ys, xs, 2]  # green byte
    r2b = cte[ys, xs, 1]  # red byte
    a, r, g, b = (img[:, :, i].astype(np.int32) for i in range(4))
    r = (r + _delta(g2r, img[:, :, 2])) & 0xFF
    b = (b + _delta(g2b, img[:, :, 2])) & 0xFF
    b = (b + _delta(r2b, r.astype(np.uint8))) & 0xFF
    return np.stack([a, r, g, b], axis=-1).astype(np.uint8)


def _inverse_subtract_green(img: np.ndarray) -> np.ndarray:
    out = img.astype(np.int32)
    out[:, :, 1] = (out[:, :, 1] + out[:, :, 2]) & 0xFF  # red += green
    out[:, :, 3] = (out[:, :, 3] + out[:, :, 2]) & 0xFF  # blue += green
    return out.astype(np.uint8)


def _palette_width_bits(n_colors: int) -> int:
    if n_colors <= 2:
        return 3
    if n_colors <= 4:
        return 2
    if n_colors <= 16:
        return 1
    return 0


def _inverse_color_indexing(img: np.ndarray, palette: np.ndarray, true_w: int) -> np.ndarray:
    h = img.shape[0]
    wb = _palette_width_bits(len(palette))
    if wb == 0:
        idx = img[:, :, 2].astype(np.int64)
    else:
        per = 1 << wb            # pixels packed per green byte
        bits = 8 >> wb           # bits per index
        packed = img[:, :, 2].astype(np.int64)
        cols = []
        for k in range(per):
            cols.append((packed >> (k * bits)) & ((1 << bits) - 1))
        idx = np.stack(cols, axis=-1).reshape(h, -1)[:, :true_w]
    out = np.zeros((h, idx.shape[1], 4), dtype=np.uint8)
    valid = idx < len(palette)
    safe = np.where(valid, idx, 0)
    out[:] = palette[safe]
    out[~valid] = 0  # out-of-range palette index -> transparent black
    return out


# -- top-level decode ----------------------------------------------------------

_PREDICTOR, _COLOR, _SUBTRACT_GREEN, _COLOR_INDEXING = 0, 1, 2, 3


def decode_vp8l(payload: bytes) -> np.ndarray:
    """Decode the VP8L chunk payload (starting at the 0x2F signature)
    to an (h, w, 4) uint8 RGBA array."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("VP8L: bad signature")
    br = _BitReader(payload, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-used hint
    if br.read(3) != 0:
        raise ValueError("VP8L: unsupported version")
    transforms = []  # (type, data) in reading order
    xsize = w
    seen = set()
    while br.read(1):
        t = br.read(2)
        if t in seen:
            raise ValueError("VP8L: duplicate transform")
        seen.add(t)
        if t in (_PREDICTOR, _COLOR):
            bits = br.read(3) + 2
            bw = (xsize + (1 << bits) - 1) >> bits
            bh = (h + (1 << bits) - 1) >> bits
            sub = _read_entropy_image(br, bw, bh, allow_meta=False)
            transforms.append((t, (bits, sub)))
        elif t == _SUBTRACT_GREEN:
            transforms.append((t, None))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal_img = _read_entropy_image(br, n_colors, 1, allow_meta=False)
            # palette entries are stored as per-channel deltas
            pal = np.cumsum(pal_img[0].astype(np.int64), axis=0) & 0xFF
            pal = pal.astype(np.uint8)
            transforms.append((t, (n_colors, pal)))
            wb = _palette_width_bits(n_colors)
            xsize = (xsize + (1 << wb) - 1) >> wb

    img = _read_entropy_image(br, xsize, h, allow_meta=True)

    for t, data in reversed(transforms):
        if t == _COLOR_INDEXING:
            n_colors, pal = data
            img = _inverse_color_indexing(img, pal, w)
        elif t == _SUBTRACT_GREEN:
            img = _inverse_subtract_green(img)
        elif t == _COLOR:
            bits, sub = data
            img = _inverse_color_transform(img, sub, bits)
        else:  # predictor
            bits, sub = data
            img = _inverse_predictor(img, sub[:, :, 2], bits)
    # internal order is (A, R, G, B) -> return RGBA
    return img[:, :, [1, 2, 3, 0]]


_MAX_ANIM_PIXELS = 1 << 28  # frames x canvas budget (raster hygiene)


def _decode_frame_subchunks(data: bytes, pos: int, end: int) -> np.ndarray:
    """Walk the chunks of a top-level still or of one ANMF frame and
    return the decoded RGBA frame. VP8L carries its own alpha; metadata
    chunks (VP8X/ICCP/EXIF/XMP) and ALPH, which only ever applies to a
    lossy VP8 base frame, are skipped."""
    end = min(end, len(data))  # a corrupt ANMF size may claim past EOF
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if tag == b"VP8L":
            return decode_vp8l(data[pos + 8 : min(pos + 8 + size, end)])
        if tag == b"VP8 ":
            # Lossy WebP is not decoded: the per-row ValueError lets
            # image_features record the error and resize_images pass
            # the payload through unchanged.
            raise ValueError("lossy VP8 WebP is not decoded (lossless VP8L only)")
        pos += 8 + size + (size & 1)
    raise ValueError("WebP: no VP8L or VP8 chunk found")


def _alpha_blend_into(dst: np.ndarray, src: np.ndarray) -> None:
    """Straight-alpha 'source over' into dst in place (WebP ANMF
    blending method 0): A = sa + da*(1-sa); RGB = (s*sa + d*da*(1-sa))/A."""
    sa = src[:, :, 3:4].astype(np.float64) / 255.0
    da = dst[:, :, 3:4].astype(np.float64) / 255.0
    oa = sa + da * (1.0 - sa)
    rgb = src[:, :, :3] * sa + dst[:, :, :3] * da * (1.0 - sa)
    safe = np.where(oa == 0.0, 1.0, oa)
    dst[:, :, :3] = np.clip(np.round(rgb / safe), 0, 255).astype(np.uint8)
    dst[:, :, 3:4] = np.clip(np.round(oa * 255.0), 0, 255).astype(np.uint8)


def decode_webp_frames(data: bytes, max_frames: int | None = None):
    """Decode a WebP file to a list of ``(rgba, duration_ms)`` frames.

    Stills yield one entry with duration ``None``. Animated VP8X files
    (ANIM/ANMF, r12) composite each frame onto the canvas per the spec:
    the canvas starts transparent, frames render at their (even) x/y
    offsets with either alpha-blending (flag bit 1 = 0) or overwrite,
    and after a frame with dispose-to-background (flag bit 0 = 1) its
    rectangle is cleared to transparent black. Every returned frame is
    a canvas-sized snapshot. ``max_frames`` stops early (the
    first-frame ingest path uses 1 — no full-animation work per row)."""
    if data is None or len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    # detect animation from the VP8X header (must precede frame chunks)
    pos = 12
    anim = False
    cw = ch = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if tag == b"VP8X":
            body = data[pos + 8 : pos + 8 + size]
            if len(body) < 10:
                raise ValueError("VP8X: truncated header")
            anim = bool(body[0] & 0x02)
            cw = int.from_bytes(body[4:7], "little") + 1
            ch = int.from_bytes(body[7:10], "little") + 1
            break
        if tag in (b"VP8 ", b"VP8L", b"ANMF"):
            break
        pos += 8 + size + (size & 1)
    if not anim:
        return [(_decode_frame_subchunks(data, 12, len(data)), None)]
    if cw * ch > _MAX_ANIM_PIXELS:
        raise ValueError(f"implausible {cw}x{ch} animation canvas")
    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
    frames: list = []
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if tag == b"ANMF":
            body = data[pos + 8 : pos + 8 + size]
            if len(body) < 16:
                raise ValueError("ANMF: truncated frame header")
            fx = int.from_bytes(body[0:3], "little") * 2
            fy = int.from_bytes(body[3:6], "little") * 2
            fw = int.from_bytes(body[6:9], "little") + 1
            fh = int.from_bytes(body[9:12], "little") + 1
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            if fx + fw > cw or fy + fh > ch:
                raise ValueError("ANMF: frame rectangle outside canvas")
            if (len(frames) + 1) * cw * ch > _MAX_ANIM_PIXELS:
                raise ValueError("animation exceeds pixel budget")
            frame = _decode_frame_subchunks(data, pos + 8 + 16, pos + 8 + size)
            if frame.shape[0] != fh or frame.shape[1] != fw:
                raise ValueError("ANMF: frame dimensions mismatch header")
            region = canvas[fy : fy + fh, fx : fx + fw]
            if flags & 0x02:  # blending method 1: overwrite
                region[:] = frame
            else:
                _alpha_blend_into(region, frame)
            frames.append((canvas.copy(), dur))
            if max_frames is not None and len(frames) >= max_frames:
                return frames
            if flags & 0x01:  # dispose to background: transparent black
                canvas[fy : fy + fh, fx : fx + fw] = 0
        pos += 8 + size + (size & 1)
    if not frames:
        raise ValueError("animated WebP with no ANMF frames")
    return frames


def decode_webp(data: bytes) -> np.ndarray:
    """Decode a WebP file (RIFF/WEBP) to RGBA uint8: VP8L (lossless)
    via :func:`decode_vp8l`, VP8X-wrapped VP8L stills, and animated
    VP8X as the FIRST composited canvas frame (the standard still view
    of an animation; :func:`decode_webp_frames` returns them all).
    Lossy VP8 raises ValueError."""
    return decode_webp_frames(data, max_frames=1)[0][0]


def encode_webp_anim(
    frames,
    canvas_size=None,
    offsets=None,
    durations=None,
    dispose=None,
    no_blend=None,
    loop: int = 0,
) -> bytes:
    """Animation encoder sibling: wrap per-frame VP8L (lossless) chunks
    in VP8X/ANIM/ANMF. ``frames`` are (h, w, 3|4) uint8 arrays;
    ``offsets`` are (x, y) pairs (must be even — the container stores
    x/2, y/2); ``dispose``/``no_blend`` are per-frame flag lists.
    Lossless frames make compositing tests exact."""
    if not frames:
        raise ValueError("need at least one frame")
    n = len(frames)
    offsets = offsets or [(0, 0)] * n
    durations = durations or [100] * n
    dispose = dispose or [False] * n
    no_blend = no_blend if no_blend is not None else [True] * n
    if canvas_size is None:
        canvas_size = (
            max(x + f.shape[1] for f, (x, y) in zip(frames, offsets)),
            max(y + f.shape[0] for f, (x, y) in zip(frames, offsets)),
        )
    cw, ch = canvas_size
    has_alpha = any(f.ndim == 3 and f.shape[2] == 4 and (f[:, :, 3] != 255).any() for f in frames)
    body = b"VP8X" + struct.pack("<I", 10) + bytes([0x02 | (0x10 if has_alpha else 0)])
    body += b"\x00\x00\x00"
    body += (cw - 1).to_bytes(3, "little") + (ch - 1).to_bytes(3, "little")
    anim = struct.pack("<I", 0) + struct.pack("<H", loop & 0xFFFF)  # bgcolor BGRA + loop
    body += b"ANIM" + struct.pack("<I", len(anim)) + anim
    for f, (x, y), dur, dis, nb in zip(frames, offsets, durations, dispose, no_blend):
        if x % 2 or y % 2:
            raise ValueError("ANMF offsets must be even")
        sub = encode_vp8l(f)
        sub = b"VP8L" + struct.pack("<I", len(sub)) + sub + (b"\x00" if len(sub) & 1 else b"")
        hdr = (x // 2).to_bytes(3, "little") + (y // 2).to_bytes(3, "little")
        hdr += (f.shape[1] - 1).to_bytes(3, "little") + (f.shape[0] - 1).to_bytes(3, "little")
        hdr += int(dur).to_bytes(3, "little")
        hdr += bytes([(0x02 if nb else 0) | (0x01 if dis else 0)])
        anmf = hdr + sub
        body += b"ANMF" + struct.pack("<I", len(anmf)) + anmf + (b"\x00" if len(anmf) & 1 else b"")
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


# -- minimal general encoder ---------------------------------------------------


def _limit_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Huffman code lengths from frequencies, depth-capped (package-merge
    is overkill for fixtures: cap by flattening overlong codes, then
    repair the Kraft sum)."""
    import heapq

    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    nxt = len(heap)
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, nxt, g1 + g2))
        nxt += 1
    if max(depth.values()) <= max_len:
        return depth
    # flatten: clamp and fix Kraft deficit greedily
    for s in depth:
        depth[s] = min(depth[s], max_len)
    def kraft(d):
        return sum(2 ** (max_len - l) for l in d.values())
    full = 2 ** max_len
    items = sorted(depth.items(), key=lambda kv: -kv[1])
    i = 0
    while kraft(depth) > full:
        s, l = items[i % len(items)]
        if depth[s] < max_len:
            depth[s] += 1
        i += 1
    return depth


def _write_huffman_code(bw: _BitWriter, lengths: dict[int, int], alphabet_size: int) -> None:
    """Emit one prefix code: simple form when <= 2 symbols (and they fit
    the 8-bit field), else the normal code-length-coded form."""
    syms = sorted(lengths)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        first = syms[0]
        if first <= 1:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(first, 1)
        else:
            bw.write(1, 1)
            bw.write(first, 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)  # normal
    full = [0] * alphabet_size
    for s, l in lengths.items():
        full[s] = l
    # code-length code over the literal symbols 0..15 (no 16/17/18 runs:
    # fixture-size streams don't need them, and zeros compress via the
    # histogram's own zero symbol)
    cl_freq: dict[int, int] = {}
    for l in full:
        cl_freq[l] = cl_freq.get(l, 0) + 1
    cl_lengths = _limit_lengths(cl_freq, max_len=7)
    if len(cl_lengths) == 1:
        # a one-symbol code-length code can't be expressed with 3-bit
        # lengths alone; pad with an unused partner symbol
        only = next(iter(cl_lengths))
        partner = 0 if only != 0 else 1
        cl_lengths = {only: 1, partner: 1}
    order_pos = {s: i for i, s in enumerate(_CODE_LENGTH_ORDER)}
    num_cl = max(order_pos[s] for s in cl_lengths) + 1
    num_cl = max(num_cl, 4)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_CODE_LENGTH_ORDER[i], 0), 3)
    bw.write(0, 1)  # no use_length shortcut
    cl_codes = _canonical_codes(
        [cl_lengths.get(s, 0) for s in range(19)]
    )
    for l in full:
        code, n = cl_codes[l]
        # codes are written MSB-first (the decoder descends per bit)
        for i in range(n - 1, -1, -1):
            bw.write((code >> i) & 1, 1)


def encode_vp8l(img: np.ndarray) -> bytes:
    """Encode an (h, w, 3|4) uint8 array as a literals-only VP8L chunk
    payload: no transforms, no cache, one Huffman group. Lossless."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("expected (h, w, 3|4) uint8")
    h, w = img.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("VP8L dimensions out of range")
    if img.shape[2] == 3:
        alpha = np.full((h, w, 1), 255, dtype=np.uint8)
        img = np.concatenate([img, alpha], axis=2)
    r, g, b, a = (img[:, :, i].reshape(-1) for i in range(4))

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(int((a != 255).any()), 1)
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta huffman

    channels = [g, r, b, a]
    alphabet_sizes = [_GREEN_BASE, 256, 256, 256]
    codes = []
    for ch, asize in zip(channels, alphabet_sizes):
        freqs: dict[int, int] = {}
        for v in ch.tolist():
            freqs[v] = freqs.get(v, 0) + 1
        lengths = _limit_lengths(freqs)
        _write_huffman_code(bw, lengths, asize)
        if len(lengths) == 1:
            # a single-symbol code costs ZERO bits per occurrence (the
            # decoder never consumes bits for it)
            codes.append({next(iter(lengths)): (0, 0)})
        else:
            full = [0] * asize
            for s, l in lengths.items():
                full[s] = l
            codes.append(_canonical_codes(full))
    # distance tree: unused — emit a 1-symbol simple code
    _write_huffman_code(bw, {0: 1}, 40)

    def emit(code_map, sym):
        code, n = code_map[sym]
        for i in range(n - 1, -1, -1):
            bw.write((code >> i) & 1, 1)

    g_codes, r_codes, b_codes, a_codes = codes
    for i in range(h * w):
        emit(g_codes, int(g[i]))
        emit(r_codes, int(r[i]))
        emit(b_codes, int(b[i]))
        emit(a_codes, int(a[i]))
    return bw.bytes()


def encode_webp(img: np.ndarray) -> bytes:
    """Wrap :func:`encode_vp8l` in the RIFF/WEBP container."""
    chunk = encode_vp8l(img)
    payload = b"VP8L" + struct.pack("<I", len(chunk)) + chunk
    if len(chunk) & 1:
        payload += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload

"""Lossless WebP (VP8L) codec — pure Python/numpy, from the public spec.

Decoder (`decode_webp`): the full VP8L feature set — canonical prefix codes
(simple and code-length-coded, incl. repeat codes 16/17/18 and the
max-symbol shortcut), meta prefix codes (huffman image), color cache, LZ77
backward references with the 2D distance mapping, and all four transforms:
predictor (14 modes), cross-color, subtract-green, and color-indexing with
pixel bundling. Lossy VP8 chunks raise NotImplementedError (that codec
genuinely needs a library).

Encoder (`encode_webp_lossless`): fixture-grade VP8L — literal pixels with
flat prefix codes, plus opt-in subtract-green, palette, and hand-placed
backrefs so tests can force every decoder path deterministically. It is NOT
a compressor; it exists so the test suite can (a) round-trip without any
external codec and (b) differentially validate this decoder against the
system libwebp when one is present (tests/test_webp.py).

The 120-entry distance-map table below is a bitstream-spec constant. This
copy was derived EMPIRICALLY from libwebp's decoder — one crafted
single-backref stream per code, observing which pixel each copies
(tests/test_webp.py::test_distance_map_matches_libwebp re-derives it
whenever libwebp is available) — not transcribed from libwebp source.

Reference-parity note: the reference engine (onecodex/finch-rs) has no
image path at all, and no query, pipeline or benchmark path imports this
module; only tests/test_webp.py does. It is the last piece of a removed
media subsystem, kept until its deletion can be done on its own.
"""
from __future__ import annotations

import struct

import numpy as np

# code -> (dx, dy); code i (1-based) = _DIST_MAP[i - 1]; codes > 120 are
# plain pixel distances (code - 120)
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]

_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_GREEN_BASE = 256 + 24  # literals + length prefix codes (cache adds more)
_DIST_ALPHABET = 40
_HASH_MUL = 0x1E35A7BD


class _BitReader:
    """LSB-first bit reader. Reads up to 2 zero bytes past the end — the
    most a byte-aligned final code can actually straddle (max code length
    15 bits can span at most one extra byte, plus the padding byte);
    deeper overruns raise, so a stream truncated by 3+ bytes fails loudly
    instead of silently decoding zeros."""

    def __init__(self, data: bytes):
        self.d = data
        self.i = 0
        self.acc = 0
        self.nb = 0

    def bits(self, n: int) -> int:
        while self.nb < n:
            if self.i < len(self.d):
                b = self.d[self.i]
            elif self.i < len(self.d) + 2:
                b = 0
            else:
                raise ValueError("VP8L: bitstream truncated")
            self.i += 1
            self.acc |= b << self.nb
            self.nb += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nb -= n
        return v


class _Code:
    """Canonical prefix code: {(length, code): symbol}, decoded by walking
    bits MSB-first (deflate convention, which VP8L shares). `const` is the
    0-bit single-symbol degenerate form."""

    __slots__ = ("table", "const", "max_len")

    def __init__(self, table=None, const=None, max_len=0):
        self.table = table or {}
        self.const = const
        self.max_len = max_len

    @classmethod
    def from_lengths(cls, lengths):
        nz = [(l, s) for s, l in enumerate(lengths) if l]
        if not nz:
            raise ValueError("VP8L: empty prefix code")
        if len(nz) == 1:
            return cls(const=nz[0][1])
        max_len = max(l for l, _ in nz)
        bl_count = [0] * (max_len + 1)
        for l, _ in nz:
            bl_count[l] += 1
        code = 0
        next_code = [0] * (max_len + 1)
        for l in range(1, max_len + 1):
            code = (code + bl_count[l - 1]) << 1
            next_code[l] = code
        # completeness check: an over/under-subscribed code corrupts decode
        kraft = sum(bl_count[l] << (max_len - l) for l in range(1, max_len + 1))
        if kraft != 1 << max_len:
            raise ValueError("VP8L: prefix code is not complete")
        table = {}
        for s, l in enumerate(lengths):
            if l:
                table[(l, next_code[l])] = s
                next_code[l] += 1
        return cls(table=table, max_len=max_len)

    @classmethod
    def simple(cls, symbols):
        if len(symbols) == 1:
            return cls(const=symbols[0])
        return cls(table={(1, 0): symbols[0], (1, 1): symbols[1]}, max_len=1)

    def read(self, br: _BitReader) -> int:
        if self.const is not None:
            return self.const
        code = 0
        t = self.table
        for l in range(1, self.max_len + 1):
            code = (code << 1) | br.bits(1)
            s = t.get((l, code))
            if s is not None:
                return s
        raise ValueError("VP8L: invalid prefix code word")


def _read_code(br: _BitReader, alphabet: int) -> _Code:
    if br.bits(1):  # simple code: 1 or 2 symbols
        n = br.bits(1) + 1
        s0 = br.bits(8) if br.bits(1) else br.bits(1)
        syms = [s0] + ([br.bits(8)] if n == 2 else [])
        if any(s >= alphabet for s in syms):
            raise ValueError("VP8L: simple-code symbol out of range")
        return _Code.simple(syms)
    ncodes = br.bits(4) + 4
    cl_lens = [0] * 19
    for i in range(ncodes):
        cl_lens[_CL_ORDER[i]] = br.bits(3)
    cl = _Code.from_lengths(cl_lens)
    if br.bits(1):
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        c = cl.read(br)
        if c < 16:
            lengths[sym] = c
            sym += 1
            if c:
                prev = c
        else:
            if c == 16:
                rep, fill = 3 + br.bits(2), prev
            elif c == 17:
                rep, fill = 3 + br.bits(3), 0
            else:
                rep, fill = 11 + br.bits(7), 0
            if sym + rep > alphabet:
                raise ValueError("VP8L: code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[sym] = fill
                sym += 1
    return _Code.from_lengths(lengths)


def _prefix_value(code: int, br: _BitReader) -> int:
    if code < 4:
        return code + 1
    extra_bits = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra_bits
    return offset + br.bits(extra_bits) + 1


def _plane_to_dist(code: int, width: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * width + dx)


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image_stream(br: _BitReader, w: int, h: int, level0: bool):
    """Returns (pixels uint32 ARGB array (h*w,), transforms, coded_w).
    Sub-images (level0=False) never carry transforms or meta codes but DO
    carry their own color-cache bit, per the spec."""
    transforms = []
    if level0:
        seen = set()
        while br.bits(1):
            t = br.bits(2)
            if t in seen:
                raise ValueError("VP8L: duplicate transform")
            seen.add(t)
            if t == 3:  # color indexing
                psize = br.bits(8) + 1
                pal, _, _ = _decode_image_stream(br, psize, 1, False)
                # palette entries are stored delta-coded per channel
                p = pal.view(np.uint8).reshape(-1, 4)
                pal = np.cumsum(p.astype(np.uint16), axis=0).astype(np.uint8)
                pal = pal.copy().view(np.uint32).reshape(-1)
                xbits = 3 if psize <= 2 else 2 if psize <= 4 else 1 if psize <= 16 else 0
                transforms.append(("palette", pal, xbits, w))
                w = _subsample(w, xbits)
            elif t in (0, 1):  # predictor / cross-color
                sbits = br.bits(3) + 2
                tw, th = _subsample(w, sbits), _subsample(h, sbits)
                data, _, _ = _decode_image_stream(br, tw, th, False)
                transforms.append(
                    ("predictor" if t == 0 else "color", sbits, data, tw, w)
                )
            else:  # subtract green
                transforms.append(("subgreen",))
    cache_bits = 0
    if br.bits(1):
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L: invalid color-cache bits {cache_bits}")
    hbits, hw, meta = 0, 0, None
    n_groups = 1
    if level0 and br.bits(1):
        hbits = br.bits(3) + 2
        hw, hh = _subsample(w, hbits), _subsample(h, hbits)
        himg, _, _ = _decode_image_stream(br, hw, hh, False)
        meta = ((himg >> np.uint32(8)) & np.uint32(0xFFFF)).astype(np.int64)
        n_groups = int(meta.max()) + 1
    green_alpha = _GREEN_BASE + ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_code(br, green_alpha),
                _read_code(br, 256),
                _read_code(br, 256),
                _read_code(br, 256),
                _read_code(br, _DIST_ALPHABET),
            )
        )
    n = w * h
    px = np.zeros(n, np.uint32)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    gcode, rcode, bcode, acode, dcode = groups[0]
    single = n_groups == 1 and meta is None
    while pos < n:
        if not single:
            x, y = pos % w, pos // w
            gcode, rcode, bcode, acode, dcode = groups[
                int(meta[(y >> hbits) * hw + (x >> hbits)])
            ]
        s = gcode.read(br)
        if s < 256:
            r = rcode.read(br)
            b = bcode.read(br)
            a = acode.read(br)
            p = (a << 24) | (r << 16) | (s << 8) | b
            px[pos] = p
            if cache is not None:
                cache[((_HASH_MUL * p) & 0xFFFFFFFF) >> cache_shift] = p
            pos += 1
        elif s < _GREEN_BASE:
            length = _prefix_value(s - 256, br)
            dc = _prefix_value(dcode.read(br), br)
            dist = _plane_to_dist(dc, w)
            if dist > pos:
                raise ValueError("VP8L: backward reference before image start")
            if pos + length > n:
                raise ValueError("VP8L: backward reference past image end")
            if cache is None:
                # overlapping copies are defined (dist < length repeats)
                for _ in range(length):
                    px[pos] = px[pos - dist]
                    pos += 1
            else:
                for _ in range(length):
                    p = int(px[pos - dist])
                    px[pos] = p
                    cache[((_HASH_MUL * p) & 0xFFFFFFFF) >> cache_shift] = p
                    pos += 1
        else:
            if cache is None:
                raise ValueError("VP8L: cache symbol without color cache")
            px[pos] = cache[s - _GREEN_BASE]
            pos += 1
    return px, transforms, w


def _avg2(a: int, b: int) -> int:
    # per-channel (a + b) / 2 on packed ARGB, no cross-channel carries
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _clip255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _predict(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    lc = [(L >> s) & 0xFF for s in (24, 16, 8, 0)]
    tc = [(T >> s) & 0xFF for s in (24, 16, 8, 0)]
    tlc = [(TL >> s) & 0xFF for s in (24, 16, 8, 0)]
    if mode == 11:  # Select: whichever of L/T the gradient is closer to
        p = [l + t - tl for l, t, tl in zip(lc, tc, tlc)]
        p_l = sum(abs(a - b) for a, b in zip(p, lc))
        p_t = sum(abs(a - b) for a, b in zip(p, tc))
        return L if p_l < p_t else T
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for l, t, tl in zip(lc, tc, tlc):
            out = (out << 8) | _clip255(l + t - tl)
        return out
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(L, T)
        out = 0
        for s, tl in zip((24, 16, 8, 0), tlc):
            a = (ave >> s) & 0xFF
            # C-style truncation toward zero for the signed half-delta
            d = a - tl
            half = d // 2 if d >= 0 else -((-d) // 2)
            out = (out << 8) | _clip255(a + half)
        return out
    raise ValueError(f"VP8L: invalid predictor mode {mode}")


def _inv_predictor(px: np.ndarray, w: int, h: int, sbits: int, data: np.ndarray, tw: int):
    out = px  # in place: residual + predictor mod 256 per channel
    M = 0xFF
    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = int(out[pos - 1])
        elif x == 0:
            pred = int(out[pos - w])
        else:
            mode = (int(data[(y >> sbits) * tw + (x >> sbits)]) >> 8) & 0xF
            pred = _predict(
                mode,
                int(out[pos - 1]),
                int(out[pos - w]),
                int(out[pos - w - 1]),
                int(out[pos - w + 1]),  # x == w-1 wraps to row start (spec)
            )
        r = int(out[pos])
        out[pos] = (
            (((r >> 24) + (pred >> 24)) & M) << 24
            | ((((r >> 16) & M) + ((pred >> 16) & M)) & M) << 16
            | ((((r >> 8) & M) + ((pred >> 8) & M)) & M) << 8
            | (((r & M) + (pred & M)) & M)
        )


def _sign8(v: np.ndarray) -> np.ndarray:
    return v.astype(np.int32) - ((v.astype(np.int32) >> 7) << 8)


def _inv_color(px: np.ndarray, w: int, h: int, sbits: int, data: np.ndarray, tw: int):
    """Inverse cross-color: the transform pixel stores green_to_red in its
    BLUE byte, green_to_blue in GREEN, red_to_blue in RED (spec layout)."""
    ys = np.arange(h) >> sbits
    xs = np.arange(w) >> sbits
    cte = data[(ys[:, None] * tw + xs[None, :])].reshape(-1)
    g2r = _sign8((cte & np.uint32(0xFF)).astype(np.uint32))
    g2b = _sign8(((cte >> np.uint32(8)) & np.uint32(0xFF)).astype(np.uint32))
    r2b = _sign8(((cte >> np.uint32(16)) & np.uint32(0xFF)).astype(np.uint32))
    a = (px >> np.uint32(24)) & np.uint32(0xFF)
    r = ((px >> np.uint32(16)) & np.uint32(0xFF)).astype(np.int32)
    g = ((px >> np.uint32(8)) & np.uint32(0xFF)).astype(np.int32)
    b = (px & np.uint32(0xFF)).astype(np.int32)
    gs = _sign8(g.astype(np.uint32))
    r = (r + ((g2r * gs) >> 5)) & 0xFF
    rs = _sign8(r.astype(np.uint32))
    b = (b + ((g2b * gs) >> 5) + ((r2b * rs) >> 5)) & 0xFF
    px[:] = (
        (a.astype(np.uint32) << np.uint32(24))
        | (r.astype(np.uint32) << np.uint32(16))
        | (g.astype(np.uint32) << np.uint32(8))
        | b.astype(np.uint32)
    )


def _inv_subgreen(px: np.ndarray):
    g = (px >> np.uint32(8)) & np.uint32(0xFF)
    r = (((px >> np.uint32(16)) & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    b = ((px & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    px[:] = (px & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


def _inv_palette(px: np.ndarray, w_coded: int, h: int, pal: np.ndarray, xbits: int, w: int):
    idx_bits = 8 >> xbits
    mask = (1 << idx_bits) - 1
    green = ((px >> np.uint32(8)) & np.uint32(0xFF)).reshape(h, w_coded)
    if xbits:
        per = 1 << xbits
        sub = np.arange(w) & (per - 1)
        col = np.arange(w) >> xbits
        idx = (green[:, col] >> (sub * idx_bits).astype(np.uint32)) & mask
    else:
        idx = green
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("VP8L: palette index out of range")
    return pal[idx.astype(np.int64)].reshape(-1)


def decode_vp8l(payload: bytes, max_pixels: int = 64 << 20) -> np.ndarray:
    """VP8L chunk payload → (h, w, 4) uint8 RGBA.

    `max_pixels` caps the header-declared image area BEFORE any pixel
    buffer is allocated: the 28-bit dimension field lets a ~20-byte
    crafted stream claim 16383x16383 and would otherwise allocate ~1 GB
    per decode attempt (same decompression-bomb class as the GIF LZW
    guard). 64 Mpx covers any sane web image; raise the cap explicitly
    for trusted archival inputs."""
    br = _BitReader(payload)
    if br.bits(8) != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    if w * h > max_pixels:
        raise ValueError(
            f"VP8L: declared size {w}x{h} exceeds max_pixels={max_pixels}"
        )
    br.bits(1)  # alpha-used hint
    if br.bits(3) != 0:
        raise ValueError("VP8L: unsupported version")
    px, transforms, w_coded = _decode_image_stream(br, w, h, True)
    for t in reversed(transforms):
        if t[0] == "predictor":
            _, sbits, data, tw, tw_at = t
            _inv_predictor(px, tw_at, h, sbits, data, tw)
        elif t[0] == "color":
            _, sbits, data, tw, tw_at = t
            _inv_color(px, tw_at, h, sbits, data, tw)
        elif t[0] == "subgreen":
            _inv_subgreen(px)
        else:
            _, pal, xbits, w_orig = t
            px = _inv_palette(px, w_coded, h, pal, xbits, w_orig)
            w_coded = w_orig
    # ARGB -> RGBA planes
    out = np.empty((h, w, 4), np.uint8)
    px = px.reshape(h, w)
    out[..., 0] = (px >> np.uint32(16)) & np.uint32(0xFF)
    out[..., 1] = (px >> np.uint32(8)) & np.uint32(0xFF)
    out[..., 2] = px & np.uint32(0xFF)
    out[..., 3] = (px >> np.uint32(24)) & np.uint32(0xFF)
    return out


def decode_webp(data: bytes, max_pixels: int = 64 << 20) -> np.ndarray:
    """WebP container → (h, w, 4) uint8 RGBA (lossless/VP8L files only).
    `max_pixels` — see `decode_vp8l` (decompression-bomb guard)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (missing RIFF/WEBP header)")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        if pos + 8 + size > len(data):
            # a declared chunk size past the buffer would silently hand the
            # decoder a truncated body (python slicing clamps) — reject
            raise ValueError(
                f"WebP: chunk {tag!r} declares {size} bytes but only "
                f"{len(data) - pos - 8} remain"
            )
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l(body, max_pixels=max_pixels)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8) needs a video-codec-grade decoder; only "
                "lossless (VP8L) decodes here"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("WebP: no VP8L image chunk found")


# --------------------------------------------------------------------------
# fixture-grade encoder
# --------------------------------------------------------------------------
class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, n: int):  # LSB-first fields
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def write_code(self, code: int, length: int):  # prefix codes, MSB-first
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def tobytes(self) -> bytes:
        out = bytearray()
        acc = n = 0
        for b in self.bits:
            acc |= b << n
            n += 1
            if n == 8:
                out.append(acc)
                acc = n = 0
        if n:
            out.append(acc)
        return bytes(out)


def _canonical(lengths):
    max_len = max((l for l in lengths if l), default=0)
    bl_count = [0] * (max_len + 1)
    for l in lengths:
        if l:
            bl_count[l] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for l in range(1, max_len + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    out = {}
    for s, l in enumerate(lengths):
        if l:
            out[s] = (next_code[l], l)
            next_code[l] += 1
    return out


def _write_lengths(bw: _BitWriter, lengths):
    """Emit a code-length-coded prefix code: every distinct length gets an
    equal-width slot in the code-length code (padded to a power of two)."""
    used = sorted(set(lengths))
    width = max(1, (len(used) - 1).bit_length())
    pad = (1 << width) - len(used)
    fillers = [s for s in range(1, 16) if s not in used][:pad]
    cl_len = {s: width for s in used + fillers}
    need = max(_CL_ORDER.index(s) for s in cl_len) + 1
    bw.write(0, 1)
    bw.write(need - 4, 4)
    for s in _CL_ORDER[:need]:
        bw.write(cl_len.get(s, 0), 3)
    codes = _canonical([cl_len.get(i, 0) for i in range(19)])
    bw.write(0, 1)  # no max-symbol shortcut
    for l in lengths:
        c, n = codes[l]
        bw.write_code(c, n)


def _write_simple(bw: _BitWriter, symbols):
    bw.write(1, 1)
    bw.write(len(symbols) - 1, 1)
    if symbols[0] < 2 and len(symbols) == 1:
        bw.write(0, 1)
        bw.write(symbols[0], 1)
    else:
        bw.write(1, 1)
        bw.write(symbols[0], 8)
    if len(symbols) == 2:
        bw.write(symbols[1], 8)


def length_prefix(v: int):
    """value -> (prefix_sym, extra_val, extra_bits) for lengths/distances."""
    if v <= 4:
        return v - 1, 0, 0
    for sym in range(4, 40):
        eb = (sym - 2) >> 1
        off = (2 + (sym & 1)) << eb
        if off + 1 <= v <= off + (1 << eb):
            return sym, v - off - 1, eb
    raise ValueError(f"prefix value {v} out of range")


_GREEN_LIT = [8] * 256 + [0] * 24  # complete: 256 x 2^-8 = 1
_GREEN_MIX = [9] * 256 + [6] * 16 + [5] * 8  # 1/2 + 1/4 + 1/4 = 1
_DIST_FLAT = [6] * 32 + [4] * 8  # 1/2 + 1/2 = 1


def _emit_literal_image(bw: _BitWriter, argb: np.ndarray, backrefs=None, meta_bit=None):
    """One entropy-coded image: flat codes, no cache; `backrefs` maps pixel
    position -> (length, distance_code) LZ77 copies. `meta_bit` is written
    after the cache bit for the level-0 spatial image (sub-images carry no
    meta-prefix bit at all)."""
    bw.write(0, 1)  # no color cache
    if meta_bit is not None:
        bw.write(meta_bit, 1)
    glen = _GREEN_MIX if backrefs else _GREEN_LIT
    _write_lengths(bw, glen)
    for _ in range(3):
        _write_lengths(bw, [8] * 256)
    if backrefs:
        _write_lengths(bw, _DIST_FLAT)
        dcodes = _canonical(_DIST_FLAT)
    else:
        _write_simple(bw, [0, 1])
        dcodes = None
    gcodes = _canonical(glen)
    ccodes = _canonical([8] * 256)
    flat = argb.reshape(-1)
    pos, n = 0, len(flat)
    brs = dict(backrefs or {})
    while pos < n:
        if pos in brs:
            length, dist_code = brs[pos]
            ls, lv, lb = length_prefix(length)
            c, ln = gcodes[256 + ls]
            bw.write_code(c, ln)
            bw.write(lv, lb)
            ds, dv, db = length_prefix(dist_code)
            c, ln = dcodes[ds]
            bw.write_code(c, ln)
            bw.write(dv, db)
            pos += length
            continue
        p = int(flat[pos])
        for sym, codes in (
            ((p >> 8) & 0xFF, gcodes),
            ((p >> 16) & 0xFF, ccodes),
            (p & 0xFF, ccodes),
            ((p >> 24) & 0xFF, ccodes),
        ):
            c, ln = codes[sym]
            bw.write_code(c, ln)
        pos += 1


def encode_webp_lossless(
    rgba: np.ndarray,
    subtract_green: bool = False,
    palette: bool = False,
    backrefs: dict | None = None,
    predictor_mode: int | None = None,
    color_cte: tuple | None = None,
) -> bytes:
    """Fixture-grade lossless WebP. Not a compressor — flat prefix codes,
    with opt-in transform paths so tests can force each decoder branch:
    `subtract_green`, `palette` (exact colors, bundled when <= 16),
    `backrefs` {pos: (length, distance_code)} emitted verbatim,
    `predictor_mode` m (single block covering the image; residuals computed
    so the image round-trips), `color_cte` (g2r, g2b, r2b) single-block
    cross-color transform."""
    rgba = np.ascontiguousarray(rgba, np.uint8)
    h, w, c = rgba.shape
    if c != 4:
        raise ValueError("encode_webp_lossless expects RGBA")
    if (predictor_mode is not None or color_cte is not None) and max(w, h) > 512:
        # the transform sub-image here is a SINGLE pixel, i.e. one block;
        # sbits tops out at 9 (512-px blocks, a format limit of the 3-bit
        # sbits field), so a larger image would need a multi-pixel
        # transform image and the emitted bitstream would desync
        raise ValueError(
            "encode_webp_lossless: predictor_mode/color_cte emit a "
            "single-block transform image; max dimension is 512"
        )
    argb = (
        (rgba[..., 3].astype(np.uint32) << 24)
        | (rgba[..., 0].astype(np.uint32) << 16)
        | (rgba[..., 1].astype(np.uint32) << 8)
        | rgba[..., 2].astype(np.uint32)
    ).reshape(-1)

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(int((rgba[..., 3] != 255).any()), 1)
    bw.write(0, 3)  # version

    w_coded = w
    if palette:
        colors, inverse = np.unique(argb, return_inverse=True)
        if len(colors) > 256:
            raise ValueError("palette mode needs <= 256 distinct colors")
        psize = len(colors)
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(psize - 1, 8)
        deltas = np.zeros(psize, np.uint32)
        prev = np.zeros(4, np.uint16)
        cb = colors.view(np.uint8).reshape(-1, 4)
        for i in range(psize):
            d = (cb[i].astype(np.uint16) - prev) & 0xFF
            deltas[i] = d[0] | (d[1] << 8) | (d[2] << 16) | (d[3] << 24)
            prev = cb[i].astype(np.uint16)
        _emit_literal_image(bw, deltas)
        xbits = 3 if psize <= 2 else 2 if psize <= 4 else 1 if psize <= 16 else 0
        idx = inverse.reshape(h, w).astype(np.uint32)
        if xbits:
            per = 1 << xbits
            bits = 8 >> xbits
            w_coded = _subsample(w, xbits)
            packed = np.zeros((h, w_coded), np.uint32)
            for k in range(per):
                cols = np.arange(k, w, per)
                packed[:, : len(cols)] |= idx[:, cols] << np.uint32(k * bits)
            argb = (np.uint32(0xFF000000) | (packed << np.uint32(8))).reshape(-1)
        else:
            argb = (np.uint32(0xFF000000) | (idx << np.uint32(8))).reshape(-1)
    if color_cte is not None:
        g2r, g2b, r2b = (v & 0xFF for v in color_cte)
        bw.write(1, 1)
        bw.write(1, 2)
        sbits = min(9, max(2, max(w_coded - 1, h - 1, 1).bit_length()))
        bw.write(sbits - 2, 3)
        cte_px = np.array(
            [0xFF000000 | (r2b << 16) | (g2b << 8) | g2r], np.uint32
        )
        _emit_literal_image(bw, cte_px)
        argb = _forward_color(argb.copy(), w_coded, h, color_cte)
    if predictor_mode is not None:
        bw.write(1, 1)
        bw.write(0, 2)
        sbits = min(9, max(2, max(w_coded - 1, h - 1, 1).bit_length()))
        bw.write(sbits - 2, 3)
        mode_px = np.array([0xFF000000 | (predictor_mode << 8)], np.uint32)
        _emit_literal_image(bw, mode_px)
        argb = _forward_predictor(argb.copy(), w_coded, h, predictor_mode)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        g = (argb >> np.uint32(8)) & np.uint32(0xFF)
        r = (((argb >> np.uint32(16)) & np.uint32(0xFF)) - g) & np.uint32(0xFF)
        b = ((argb & np.uint32(0xFF)) - g) & np.uint32(0xFF)
        argb = (argb & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
    bw.write(0, 1)  # end of transforms
    _emit_literal_image(bw, argb, backrefs, meta_bit=0)
    payload = bw.tobytes()
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (len(chunk) + 4).to_bytes(4, "little") + b"WEBP" + chunk


def _forward_predictor(argb: np.ndarray, w: int, h: int, mode: int) -> np.ndarray:
    out = argb.copy()
    M = 0xFF
    for pos in range(w * h - 1, -1, -1):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = int(argb[pos - 1])
        elif x == 0:
            pred = int(argb[pos - w])
        else:
            pred = _predict(
                mode,
                int(argb[pos - 1]),
                int(argb[pos - w]),
                int(argb[pos - w - 1]),
                int(argb[pos - w + 1]),
            )
        v = int(argb[pos])
        out[pos] = (
            (((v >> 24) - (pred >> 24)) & M) << 24
            | ((((v >> 16) & M) - ((pred >> 16) & M)) & M) << 16
            | ((((v >> 8) & M) - ((pred >> 8) & M)) & M) << 8
            | (((v & M) - (pred & M)) & M)
        )
    return out


def _forward_color(argb: np.ndarray, w: int, h: int, cte: tuple) -> np.ndarray:
    g2r, g2b, r2b = cte
    r = ((argb >> np.uint32(16)) & np.uint32(0xFF)).astype(np.int32)
    g = ((argb >> np.uint32(8)) & np.uint32(0xFF)).astype(np.int32)
    b = (argb & np.uint32(0xFF)).astype(np.int32)
    gs = _sign8(g.astype(np.uint32))
    new_r = (r - ((np.int32(g2r) * gs) >> 5)) & 0xFF
    # the blue residual's red term uses the ORIGINAL red (what the decoder
    # has reconstructed by the time it inverts blue)
    rs = _sign8(r.astype(np.uint32) & np.uint32(0xFF))
    new_b = (b - ((np.int32(g2b) * gs) >> 5) - ((np.int32(r2b) * rs) >> 5)) & 0xFF
    return (
        (argb & np.uint32(0xFF00FF00))
        | (new_r.astype(np.uint32) << np.uint32(16))
        | new_b.astype(np.uint32)
    )

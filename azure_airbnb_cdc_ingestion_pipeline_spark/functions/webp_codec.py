"""WebP lossless (VP8L) codec — pure stdlib/numpy, implemented from the
public container + bitstream spec (RFC 9649 / the WebP lossless
bitstream specification), the same from-the-spec posture as the repo's
JPEG codec (ITU-T T.81).

Closes the last image-format residual from VERDICT r9 ("GIF/WebP are a
large share of web images"): after the r10 GIF decoder, WebP is the one
major web format whose variants the perceptual-dedup family could not
collapse. Decode supports the FULL VP8L feature surface a real crawl
exhibits:

- RIFF container walk (VP8L direct, or nested under VP8X extended);
  lossy ``VP8 `` payloads raise NotImplementedError (the documented
  detect-and-degrade contract — lossy WebP is a full VP8 intra decoder
  and out of scope, exactly like 12-bit JPEG).
- all four transforms (predictor with all 14 modes, color transform,
  subtract-green, color-indexing incl. sub-byte pixel bundling),
  applied inverse-in-reverse-stream-order;
- canonical prefix codes: both the "simple" (1/2-symbol) and the
  normal code-length-coded form with 16/17/18 repeats and the optional
  max_symbol short circuit;
- meta prefix codes (entropy image), color cache, and LZ77 backward
  references through the 120-entry close-neighborhood distance map.

The encoder is a real (if deliberately small) VP8L encoder — canonical
Huffman codes built from per-channel histograms, optional
subtract-green / all-14-mode predictor / color-transform / palette
(with bundling) / color-cache / LZ77 run detection — so round-trip
tests drive every decoder path with spec-derived bits, not a mirror of
the decoder's own assumptions. Like ``encode_gif``/``encode_png`` it
exists for fixtures and the archive-sink story; VP8L is lossless, so
encode∘decode is bit-exact for any input plane.

Reference parity note: the reference pipeline (a declarative ADF spec)
has no media path at all; this module serves the beyond-reference
multimodal family (SURVEY.md §2 extensions), feeding
``functions.phash.decode_gray`` and ``operators.multimodal``.
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

# ---------------------------------------------------------------------------
# Shared spec tables
# ---------------------------------------------------------------------------

# Order in which code-length-code lengths are stored (spec §6.2.2.2).
_CODE_LENGTH_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)

# Close-neighborhood distance map: dist_code 1..120 -> (dx, dy) pixel
# offset; distance = dy * xsize + dx, clamped to >= 1 (spec §5.2.3).
_DIST_MAP = (
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
    (-6, 6), (2, 8), (-2, 8), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5),
    (8, 4), (3, 8), (-3, 8), (6, 7), (-6, 7), (7, 6), (-7, 6), (8, 5),
    (4, 8), (-4, 8), (8, 6), (5, 8), (-5, 8),
)

_CACHE_MULT = 0x1E35A7BD  # color-cache hash multiplier (spec §5.2.2)
_MAX_CODE_LEN = 15


def _plane_to_dist(xsize: int, plane: int) -> int:
    if plane > 120:
        return plane - 120
    dx, dy = _DIST_MAP[plane - 1]
    d = dy * xsize + dx
    return d if d >= 1 else 1


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# ---------------------------------------------------------------------------
# Bit I/O — VP8L is LSB-first within bytes
# ---------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("d", "pos", "nbits")

    def __init__(self, data: bytes):
        # 4 trailing zero bytes so fixed-width peeks near the end never
        # hit a short slice
        self.d = bytes(data) + b"\x00\x00\x00\x00"
        self.pos = 0
        self.nbits = len(data) * 8

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        p = self.pos
        if p + k > self.nbits:
            raise ValueError("malformed VP8L: bitstream exhausted")
        self.pos = p + k
        b0 = p >> 3
        chunk = int.from_bytes(self.d[b0 : b0 + ((k + (p & 7) + 7) >> 3)],
                               "little")
        return (chunk >> (p & 7)) & ((1 << k) - 1)


class _BitWriter:
    __slots__ = ("out", "acc", "accbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.accbits = 0

    def write(self, value: int, k: int) -> None:
        if k == 0:
            return
        self.acc |= (value & ((1 << k) - 1)) << self.accbits
        self.accbits += k
        while self.accbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.accbits -= 8

    def write_big(self, value: int, k: int) -> None:
        """Append ``k`` bits held in one (arbitrarily large) int — one
        bigint shift instead of a per-unit Python loop."""
        if k == 0:
            return
        self.acc |= value << self.accbits
        self.accbits += k
        full = self.accbits >> 3
        if full:
            self.out += (self.acc & ((1 << (full * 8)) - 1)).to_bytes(
                full, "little"
            )
            self.acc >>= full * 8
            self.accbits &= 7

    def bytes(self) -> bytes:
        if self.accbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.accbits = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Canonical prefix codes
# ---------------------------------------------------------------------------


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length); canonical assignment identical to
    DEFLATE: codes increase within a length, shorter lengths first."""
    pairs = sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    )
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for ln, sym in pairs:
        code <<= ln - prev_len
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


#: byte -> bit-reversed byte. A flat 8-bit canonical code assigns symbol
#: s the code s itself, and VP8L streams code bits MSB-first into an
#: LSB-first byte stream — so one coded pixel IS one bit-reversed byte.
_BITREV = np.array(
    [int(f"{b:08b}"[::-1], 2) for b in range(256)], dtype=np.uint8
)


class _HTree:
    """Decode-side prefix code: flat LUT keyed by the next ``maxlen``
    stream bits (LSB-first peek == bit-reversed canonical code — the
    layout libwebp's table decoder uses). ``single`` short-circuits the
    zero-bit one-symbol code; ``flat8`` marks the exactly-256-symbols-
    all-length-8 code whose pixel stream is byte-wise vectorizable."""

    __slots__ = ("lut", "maxlen", "mask", "single", "flat8")

    def __init__(self, lengths: list[int]):
        nz = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise ValueError("malformed VP8L: empty prefix code")
        self.flat8 = len(nz) == 256 and all(
            s < 256 and l == 8 for s, l in nz
        )
        if len(nz) == 1:
            self.single = nz[0][0]
            self.lut = None
            self.maxlen = 0
            self.mask = 0
            return
        self.single = -1
        codes = _canonical_codes(lengths)
        maxlen = max(l for _, l in codes.values())
        if maxlen > _MAX_CODE_LEN:
            raise ValueError("malformed VP8L: prefix code length > 15")
        # Kraft check: an over-subscribed code is malformed; an
        # incomplete one leaves (-1, 0) holes that raise on use.
        if sum(1 << (maxlen - l) for _, l in codes.values()) > 1 << maxlen:
            raise ValueError("malformed VP8L: over-subscribed prefix code")
        lut = [(-1, 0)] * (1 << maxlen)
        for sym, (code, ln) in codes.items():
            rev = int(f"{code:0{ln}b}"[::-1], 2)
            step = 1 << ln
            for idx in range(rev, 1 << maxlen, step):
                lut[idx] = (sym, ln)
        self.lut = lut
        self.maxlen = maxlen
        self.mask = (1 << maxlen) - 1

    def decode(self, br: _BitReader) -> int:
        if self.lut is None:
            return self.single
        p = br.pos
        b0 = p >> 3
        chunk = int.from_bytes(br.d[b0 : b0 + 4], "little") >> (p & 7)
        sym, ln = self.lut[chunk & self.mask]
        if sym < 0 or p + ln > br.nbits + 32:
            raise ValueError("malformed VP8L: invalid prefix code word")
        br.pos = p + ln
        return sym


def _read_code_lengths(br: _BitReader, alphabet: int) -> list[int]:
    """Normal (non-simple) prefix-code form: code-length-code, then
    symbol lengths with 16/17/18 repeats and optional max_symbol."""
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_tree = _HTree(cl_lengths)
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet:
            raise ValueError("malformed VP8L: max_symbol beyond alphabet")
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev_len = 8
    sym = 0
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_tree.decode(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        else:
            slot = cl - 16
            extra = (2, 3, 7)[slot]
            repeat = br.read(extra) + (3, 3, 11)[slot]
            fill = prev_len if cl == 16 else 0
            if sym + repeat > alphabet:
                raise ValueError("malformed VP8L: repeat past alphabet")
            for _ in range(repeat):
                lengths[sym] = fill
                sym += 1
    return lengths


def _read_prefix_code(br: _BitReader, alphabet: int) -> _HTree:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        lengths = [0] * alphabet
        s0 = br.read(8 if first_8bit else 1)
        if s0 >= alphabet:
            raise ValueError("malformed VP8L: simple-code symbol oob")
        lengths[s0] = 1
        if num_symbols == 2:
            s1 = br.read(8)
            if s1 >= alphabet or s1 == s0:
                raise ValueError("malformed VP8L: simple-code symbol oob")
            lengths[s1] = 1
        return _HTree(lengths)
    return _HTree(_read_code_lengths(br, alphabet))


def _prefix_value_decode(code: int, br: _BitReader) -> int:
    """Length/distance prefix value (spec §5.2.3): codes 0..3 map to
    1..4; above that, (code-2)>>1 extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_value_encode(v: int) -> tuple[int, int, int]:
    """value -> (code, extra_bits_count, extra_bits_value)."""
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    highest = x.bit_length() - 1
    second = (x >> (highest - 1)) & 1
    return 2 * highest + second, highest - 1, x & ((1 << (highest - 1)) - 1)


# ---------------------------------------------------------------------------
# Entropy-coded image decode (spec §6.2)
# ---------------------------------------------------------------------------


def _decode_entropy_image(
    br: _BitReader, w: int, h: int, level0: bool
) -> np.ndarray:
    """Decode one spatially-coded image (ARGB uint32, shape (h, w)).

    level0=True reads the optional meta-prefix-code header; sub-images
    (transform data, entropy image, palette) are level0=False. The
    color-cache bit is present at every level."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("malformed VP8L: color cache bits out of range")
    meta_idx = None
    hb = 0
    ngroups = 1
    if level0 and br.read(1):
        hb = br.read(3) + 2
        mw, mh = _subsample_size(w, hb), _subsample_size(h, hb)
        meta_img = _decode_entropy_image(br, mw, mh, False)
        meta_idx = ((meta_img >> 8) & 0xFFFF).astype(np.int64)
        ngroups = int(meta_idx.max()) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    alphabets = (256 + 24 + cache_size, 256, 256, 256, 40)
    groups = [
        tuple(_read_prefix_code(br, a) for a in alphabets)
        for _ in range(ngroups)
    ]
    n = w * h
    # Vectorized literal fast path: a flat 8-bit green code has no
    # length/cache symbols (so every token is a literal), and when the
    # other three channel codes are zero-bit single-symbol codes each
    # pixel consumes EXACTLY one bit-reversed byte of green — the whole
    # body is one bigint shift + a numpy byte reverse, no per-pixel
    # loop. This is the profile the repo's own encoder emits for
    # gray/palette fixtures; arbitrary real-world streams fall through
    # to the general loop below, bit-identical (parity-tested).
    if n and meta_idx is None:
        g_t0, r_t0, b_t0, a_t0, _ = groups[0]
        if (
            g_t0.flat8
            and r_t0.single >= 0
            and b_t0.single >= 0
            and a_t0.single >= 0
        ):
            p0 = br.pos
            if p0 + 8 * n > br.nbits:
                raise ValueError("malformed VP8L: bitstream exhausted")
            b0 = p0 >> 3
            nbytes = (8 * n + (p0 & 7) + 7) >> 3
            body = (
                int.from_bytes(br.d[b0 : b0 + nbytes + 1], "little")
                >> (p0 & 7)
            ) & ((1 << (8 * n)) - 1)
            br.pos = p0 + 8 * n
            raw = np.frombuffer(body.to_bytes(n, "little"), dtype=np.uint8)
            greens = _BITREV[raw].astype(np.uint32)
            const = (
                (a_t0.single << 24) | (r_t0.single << 16) | b_t0.single
            )
            return (np.uint32(const) | (greens << 8)).reshape(h, w)
    out = [0] * n
    cache = [0] * cache_size if cache_size else None
    shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    x = 0
    y = 0
    grp = groups[0]
    meta_row = meta_idx[0] if meta_idx is not None else None
    g_t, r_t, b_t, a_t, d_t = grp
    while pos < n:
        if meta_row is not None:
            gi = int(meta_row[x >> hb])
            g_t, r_t, b_t, a_t, d_t = groups[gi]
        sym = g_t.decode(br)
        if sym < 256:
            red = r_t.decode(br)
            blue = b_t.decode(br)
            alpha = a_t.decode(br)
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            out[pos] = px
            if cache is not None:
                cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> shift] = px
            pos += 1
            x += 1
        elif sym < 280:
            length = _prefix_value_decode(sym - 256, br)
            dist = _plane_to_dist(w, _prefix_value_decode(d_t.decode(br), br))
            if dist > pos:
                raise ValueError("malformed VP8L: backref before start")
            if pos + length > n:
                raise ValueError("malformed VP8L: backref past image end")
            if cache is not None:
                for _ in range(length):
                    px = out[pos - dist]
                    out[pos] = px
                    cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> shift] = px
                    pos += 1
            else:
                for _ in range(length):
                    out[pos] = out[pos - dist]
                    pos += 1
            x = pos % w
        else:
            if cache is None:
                raise ValueError("malformed VP8L: cache hit without cache")
            out[pos] = cache[sym - 280]
            pos += 1
            x += 1
        if x >= w:
            x = 0
            y = pos // w
            if meta_idx is not None and y < h:
                meta_row = meta_idx[y >> hb]
    return np.array(out, dtype=np.uint32).reshape(h, w)


# ---------------------------------------------------------------------------
# Inverse transforms (spec §4)
# ---------------------------------------------------------------------------


def _channels(img: np.ndarray):
    return (
        (img >> 24) & 0xFF,
        (img >> 16) & 0xFF,
        (img >> 8) & 0xFF,
        img & 0xFF,
    )


def _pack(a, r, g, b) -> np.ndarray:
    return (
        (a.astype(np.uint32) << 24)
        | (r.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | b.astype(np.uint32)
    )


def _inv_subtract_green(img: np.ndarray) -> np.ndarray:
    a, r, g, b = _channels(img)
    return _pack(a, (r + g) & 0xFF, g, (b + g) & 0xFF)


def _inv_color_transform(
    img: np.ndarray, sub: np.ndarray, size_bits: int
) -> np.ndarray:
    h, w = img.shape
    # per-block multipliers, expanded to pixel resolution
    g2r = ((sub & 0xFF)).astype(np.int16)
    g2b = ((sub >> 8) & 0xFF).astype(np.int16)
    r2b = ((sub >> 16) & 0xFF).astype(np.int16)

    def expand(m):
        return np.repeat(
            np.repeat(m, 1 << size_bits, axis=0), 1 << size_bits, axis=1
        )[:h, :w]

    g2r, g2b, r2b = expand(g2r), expand(g2b), expand(r2b)
    a, r, g, b = (c.astype(np.int32) for c in _channels(img))
    sgn = lambda m: np.where(m > 127, m - 256, m).astype(np.int32)  # noqa: E731
    gs = np.where(g > 127, g - 256, g)
    r = (r + ((sgn(g2r) * gs) >> 5)) & 0xFF
    rs = np.where(r > 127, r - 256, r)
    b = (b + ((sgn(g2b) * gs) >> 5) + ((sgn(r2b) * rs) >> 5)) & 0xFF
    return _pack(a.astype(np.uint32), r, g, b)


def _avg2(p: int, q: int) -> int:
    return (
        ((((p >> 24) & 0xFF) + ((q >> 24) & 0xFF)) >> 1) << 24
        | ((((p >> 16) & 0xFF) + ((q >> 16) & 0xFF)) >> 1) << 16
        | ((((p >> 8) & 0xFF) + ((q >> 8) & 0xFF)) >> 1) << 8
        | ((p & 0xFF) + (q & 0xFF)) >> 1
    )


def _clamp(v: int) -> int:
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
    if mode == 11:  # Select
        pl = pt = 0
        for sh in (24, 16, 8, 0):
            lc, tc, tlc = (L >> sh) & 0xFF, (T >> sh) & 0xFF, (TL >> sh) & 0xFF
            pred = lc + tc - tlc
            pl += abs(pred - lc)
            pt += abs(pred - tc)
        return L if pl < pt else T
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for sh in (24, 16, 8, 0):
            out |= _clamp(
                ((L >> sh) & 0xFF) + ((T >> sh) & 0xFF) - ((TL >> sh) & 0xFF)
            ) << sh
        return out
    if mode == 13:  # ClampAddSubtractHalf
        av = _avg2(L, T)
        out = 0
        for sh in (24, 16, 8, 0):
            ac, tlc = (av >> sh) & 0xFF, (TL >> sh) & 0xFF
            d = ac - tlc
            half = d // 2 if d >= 0 else -((-d) // 2)  # C trunc-toward-0
            out |= _clamp(ac + half) << sh
        return out
    raise ValueError(f"malformed VP8L: predictor mode {mode}")


def _add_pixels(px: int, pred: int) -> int:
    return (
        ((((px >> 24) & 0xFF) + ((pred >> 24) & 0xFF)) & 0xFF) << 24
        | ((((px >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16
        | ((((px >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8
        | (((px & 0xFF) + (pred & 0xFF)) & 0xFF)
    )


def _inv_predictor(
    img: np.ndarray, sub: np.ndarray, size_bits: int
) -> np.ndarray:
    h, w = img.shape
    modes = ((sub >> 8) & 0xFF).astype(np.int64)
    data = img.flatten().tolist()
    for y in range(h):
        mrow = modes[y >> size_bits]
        base = y * w
        for x in range(w):
            i = base + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = data[i - 1]
            elif x == 0:
                pred = data[i - w]
            else:
                mode = int(mrow[x >> size_bits])
                # TR of the last column wraps to the current row's first
                # pixel (contiguous-buffer rule the spec mandates)
                TR = data[i - w + 1]
                pred = _predict(
                    mode, data[i - 1], data[i - w], data[i - w - 1], TR
                )
            data[i] = _add_pixels(data[i], pred)
    return np.array(data, dtype=np.uint32).reshape(h, w)


def _inv_palette(
    img: np.ndarray, palette: np.ndarray, width_bits: int, orig_w: int
) -> np.ndarray:
    h = img.shape[0]
    idx_plane = ((img >> 8) & 0xFF).astype(np.int64)
    if width_bits:
        bpp = 8 >> width_bits
        ppb = 1 << width_bits
        # unbundle: pixel x takes bits ((x % ppb) * bpp) of its byte
        cols = []
        for slot in range(ppb):
            cols.append((idx_plane >> (slot * bpp)) & ((1 << bpp) - 1))
        idx = np.stack(cols, axis=2).reshape(h, -1)[:, :orig_w]
    else:
        idx = idx_plane[:, :orig_w]
    pal = palette.reshape(-1)
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("malformed VP8L: palette index out of range")
    return pal[idx]


# ---------------------------------------------------------------------------
# Top-level decode
# ---------------------------------------------------------------------------


def _vp8l_decode(data: bytes) -> tuple[int, int, np.ndarray]:
    br = _BitReader(data)
    if br.read(8) != 0x2F:
        raise ValueError("malformed VP8L: bad signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("malformed VP8L: nonzero version")
    cur_w = w
    transforms = []
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("malformed VP8L: duplicate transform")
        seen.add(ttype)
        if ttype == 2:  # subtract green
            transforms.append(("subgreen",))
        elif ttype in (0, 1):  # predictor / color transform
            size_bits = br.read(3) + 2
            bw = _subsample_size(cur_w, size_bits)
            bh = _subsample_size(h, size_bits)
            sub = _decode_entropy_image(br, bw, bh, False)
            transforms.append(
                ("predictor" if ttype == 0 else "color", size_bits, sub)
            )
        else:  # color indexing
            n_colors = br.read(8) + 1
            deltas = _decode_entropy_image(br, n_colors, 1, False)
            # palette pixels are delta-coded component-wise
            a, r, g, b = _channels(deltas)
            pal = _pack(
                np.cumsum(a, dtype=np.uint64) & 0xFF,
                np.cumsum(r, dtype=np.uint64) & 0xFF,
                np.cumsum(g, dtype=np.uint64) & 0xFF,
                np.cumsum(b, dtype=np.uint64) & 0xFF,
            )
            width_bits = (
                3 if n_colors <= 2 else 2 if n_colors <= 4
                else 1 if n_colors <= 16 else 0
            )
            transforms.append(("palette", width_bits, pal, cur_w))
            cur_w = _subsample_size(cur_w, width_bits)
    img = _decode_entropy_image(br, cur_w, h, True)
    for t in reversed(transforms):
        if t[0] == "subgreen":
            img = _inv_subtract_green(img)
        elif t[0] == "predictor":
            img = _inv_predictor(img, t[2], t[1])
        elif t[0] == "color":
            img = _inv_color_transform(img, t[2], t[1])
        else:
            img = _inv_palette(img, t[2], t[1], t[3])
    return w, h, img


def _walk_riff(payload: bytes):
    """Yield (fourcc, chunk_bytes) for every top-level RIFF chunk."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload (bad RIFF header)")
    off = 12
    end = min(len(payload), 8 + struct.unpack("<I", payload[4:8])[0])
    while off + 8 <= end:
        fourcc = payload[off : off + 4]
        size = struct.unpack("<I", payload[off + 4 : off + 8])[0]
        if off + 8 + size > len(payload):
            raise ValueError("malformed WebP: chunk past end of payload")
        yield fourcc, payload[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)  # chunks are even-aligned


def webp_info(payload: bytes) -> dict:
    """{format, width, height, has_alpha} from the container headers
    (VP8L header, VP8X canvas, or the lossy VP8 frame header)."""
    payload = bytes(payload)
    fmt = None
    for fourcc, chunk in _walk_riff(payload):
        if fourcc == b"VP8L":
            if len(chunk) < 5 or chunk[0] != 0x2F:
                raise ValueError("malformed VP8L: bad signature byte")
            bits = int.from_bytes(chunk[1:5], "little")
            return {
                "format": "VP8L",
                "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1,
                "has_alpha": bool((bits >> 28) & 1),
            }
        if fourcc == b"VP8X" and len(chunk) >= 10:
            wh = int.from_bytes(chunk[4:10], "little")
            fmt = {
                "format": "VP8X",
                "width": (wh & 0xFFFFFF) + 1,
                "height": ((wh >> 24) & 0xFFFFFF) + 1,
                "has_alpha": bool(chunk[0] & 0x10),
            }
        if fourcc == b"VP8 " and fmt is None:
            # lossy frame header: 3-byte tag, 0x9d012a start code, dims
            if len(chunk) < 10 or chunk[3:6] != b"\x9d\x01\x2a":
                raise ValueError("malformed WebP: bad VP8 frame header")
            w, h = struct.unpack("<HH", chunk[6:10])
            return {
                "format": "VP8",
                "width": w & 0x3FFF,
                "height": h & 0x3FFF,
                "has_alpha": False,
            }
    if fmt is not None:
        return fmt
    raise ValueError("malformed WebP: no image chunk")


def decode_webp(payload: bytes) -> dict:
    """Full VP8L decode → the ``decode_png`` contract: {width, height,
    channels, pixels (row-major interleaved bytes), mean_intensity}.
    channels collapses to 1 for pure-gray opaque images and 3 for
    opaque color (the corpus cases); 4 when alpha is meaningful.
    Lossy ``VP8 `` payloads raise NotImplementedError (quarantine)."""
    payload = bytes(payload)
    vp8l = None
    lossy = False
    for fourcc, chunk in _walk_riff(payload):
        if fourcc == b"VP8L":
            vp8l = chunk
            break
        if fourcc == b"VP8 ":
            lossy = True
    if vp8l is None:
        if lossy:
            raise NotImplementedError(
                "lossy (VP8) WebP decode not supported — quarantine path"
            )
        raise ValueError("malformed WebP: no VP8L chunk")
    w, h, img = _vp8l_decode(vp8l)
    a, r, g, b = _channels(img)
    if bool((a != 255).any()):
        px = np.stack([r, g, b, a], axis=2).astype(np.uint8)
        channels = 4
    elif bool((r == g).all()) and bool((g == b).all()):
        px = g.astype(np.uint8)[:, :, None]
        channels = 1
    else:
        px = np.stack([r, g, b], axis=2).astype(np.uint8)
        channels = 3
    flat = px.reshape(-1)
    return {
        "width": w,
        "height": h,
        "channels": channels,
        "pixels": bytearray(flat.tobytes()),
        "mean_intensity": float(flat.mean()) / 255.0 if flat.size else 0.0,
    }


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _huffman_lengths(
    freqs: dict[int, int], alphabet: int, max_len: int = _MAX_CODE_LEN
) -> list[int]:
    """Real Huffman code lengths from a histogram, depth-capped (15 for
    symbol codes, 7 for the code-length code whose lengths live in
    3-bit fields) by frequency flattening; deterministic tie-break."""
    active = [(f, s) for s, f in sorted(freqs.items()) if f > 0]
    lengths = [0] * alphabet
    if not active:
        raise ValueError("huffman over empty histogram")
    if len(active) == 1:
        lengths[active[0][1]] = 1
        return lengths
    scale = 1
    while True:
        heap = [
            (max(1, f // scale), i, (s,)) for i, (f, s) in enumerate(active)
        ]
        heapq.heapify(heap)
        nxt = len(heap)
        while len(heap) > 1:
            f1, _, s1 = heapq.heappop(heap)
            f2, _, s2 = heapq.heappop(heap)
            heapq.heappush(heap, (f1 + f2, nxt, s1 + s2))
            nxt += 1
            for s in s1 + s2:
                lengths[s] += 1
        if max(lengths[s] for _, s in active) <= max_len:
            return lengths
        lengths = [0] * alphabet
        scale *= 16  # flatten the histogram until the tree fits


def _write_prefix_code(
    bw: _BitWriter, lengths: list[int], alphabet: int
) -> dict[int, tuple[int, int]]:
    """Emit a prefix code in stream form; returns symbol->(code,len)."""
    nz = [(s, l) for s, l in enumerate(lengths) if l > 0]
    if len(nz) <= 2 and all(s <= 255 for s, _ in nz):
        # simple code
        bw.write(1, 1)
        bw.write(len(nz) - 1, 1)
        s0 = nz[0][0]
        if s0 <= 1 and len(nz) == 1:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        if len(nz) == 2:
            bw.write(nz[1][0], 8)
        if len(nz) == 1:
            return {nz[0][0]: (0, 0)}
        return {nz[0][0]: (0, 1), nz[1][0]: (1, 1)}
    bw.write(0, 1)  # normal form
    # RLE the lengths with 17/18 zero runs (16-repeat omitted: encoder
    # simplicity; decoders must handle all three, and tests cover 16 via
    # hand-built streams)
    tokens: list[tuple[int, int, int]] = []  # (cl_sym, extra_bits, extra_val)
    i = 0
    while i < alphabet:
        if lengths[i] == 0:
            run = 1
            while i + run < alphabet and lengths[i + run] == 0 and run < 138:
                run += 1
            if i + run >= alphabet:
                break  # trailing zeros: cut via max_symbol path below
            while run >= 11:
                r = min(run, 138)
                tokens.append((18, 7, r - 11))
                run -= r
                i += r
            while run >= 3:
                r = min(run, 10)
                tokens.append((17, 3, r - 3))
                run -= r
                i += r
            while run:
                tokens.append((0, 0, 0))
                run -= 1
                i += 1
        else:
            tokens.append((lengths[i], 0, 0))
            i += 1
    n_coded = i  # symbols actually emitted; the rest are implicit zeros
    cl_freq: dict[int, int] = {}
    for sym, _, _ in tokens:
        cl_freq[sym] = cl_freq.get(sym, 0) + 1
    if len(cl_freq) == 1:
        # degenerate code-length-code needs a second symbol to be a
        # valid prefix code in our builder; add a zero-freq partner
        only = next(iter(cl_freq))
        cl_freq[0 if only != 0 else 8] = 1
    cl_lengths = _huffman_lengths(cl_freq, 19, max_len=7)
    # num_code_lengths covers the largest order-position used
    used_pos = max(
        _CODE_LENGTH_ORDER.index(s) for s, l in enumerate(cl_lengths) if l
    )
    num_cl = max(4, used_pos + 1)
    bw.write(num_cl - 4, 4)
    for p in range(num_cl):
        bw.write(cl_lengths[_CODE_LENGTH_ORDER[p]], 3)
    cl_codes = _canonical_codes(cl_lengths)

    def put(sym: int):
        code, ln = cl_codes[sym]
        for bit in range(ln - 1, -1, -1):  # MSB of the code goes first
            bw.write((code >> bit) & 1, 1)

    if n_coded < alphabet:
        # max_symbol counts TOKENS the decoder may read (libwebp's
        # trimmed_length), not alphabet positions — it lets the stream
        # omit the trailing zero-run tokens. The normal form always
        # carries >= 2 tokens (1-2 short symbols take the simple form),
        # so max_symbol = len(tokens) is always encodable as 2 + val.
        bw.write(1, 1)
        val = len(tokens) - 2
        nbits = 2
        while val >= (1 << nbits) and nbits < 16:
            nbits += 2
        bw.write((nbits - 2) // 2, 3)
        bw.write(val, nbits)
    else:
        bw.write(0, 1)
    for sym, extra, val in tokens:
        put(sym)
        if extra:
            bw.write(val, extra)
    codes = _canonical_codes(lengths)
    if len(codes) == 1:
        return {next(iter(codes)): (0, 0)}
    return codes


def _emit_sym(bw: _BitWriter, codes: dict, sym: int) -> None:
    code, ln = codes[sym]
    for bit in range(ln - 1, -1, -1):
        bw.write((code >> bit) & 1, 1)


def _encode_image_body(
    bw: _BitWriter,
    img: np.ndarray,
    level0: bool,
    *,
    cache_bits: int = 0,
    use_lz77: bool = False,
) -> None:
    h, w = img.shape
    n = img.size
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        bw.write(0, 1)  # no meta prefix codes
    # Vectorized literal fast path (the encode twin of the decoder's
    # flat8 branch): when red/blue/alpha are constant and no
    # cache/LZ77 was requested, emit zero-bit single-symbol codes for
    # the three constant channels and a FLAT 8-bit green code — the
    # body is then exactly one bit-reversed byte per pixel, appended
    # as one bigint shift. No per-pixel Python anywhere.
    if not use_lz77 and not cache_bits and n:
        a, r, g, b = _channels(img)
        if (
            bool((r == r.flat[0]).all())
            and bool((b == b.flat[0]).all())
            and bool((a == a.flat[0]).all())
        ):
            galpha = 256 + 24
            _write_prefix_code(
                bw, [8] * 256 + [0] * (galpha - 256), galpha
            )
            for const in (int(r.flat[0]), int(b.flat[0]), int(a.flat[0])):
                lens = [0] * 256
                lens[const] = 1
                _write_prefix_code(bw, lens, 256)
            dlens = [0] * 40
            dlens[0] = 1
            _write_prefix_code(bw, dlens, 40)
            rev = _BITREV[g.astype(np.uint8).reshape(-1)]
            bw.write_big(int.from_bytes(rev.tobytes(), "little"), 8 * n)
            return
    flat = img.flatten().tolist()
    cache_size = (1 << cache_bits) if cache_bits else 0
    shift = 32 - cache_bits if cache_bits else 0

    tokens = []
    cache = [None] * cache_size if cache_size else None
    pos = 0
    while pos < n:
        px = flat[pos]
        if use_lz77:
            best_len = 0
            best_dist = 0
            for dist in (1, w):
                if dist > pos:
                    continue
                ln = 0
                limit = min(n - pos, 4096)
                while ln < limit and flat[pos + ln - dist] == flat[pos + ln]:
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, dist
            if best_len >= 4:
                tokens.append(("copy", best_len, best_dist))
                if cache is not None:
                    for k in range(best_len):
                        c = flat[pos + k]
                        cache[(_CACHE_MULT * c & 0xFFFFFFFF) >> shift] = c
                pos += best_len
                continue
        if cache is not None:
            slot = (_CACHE_MULT * px & 0xFFFFFFFF) >> shift
            if cache[slot] == px:
                tokens.append(("cache", slot))
                pos += 1
                continue
            cache[slot] = px
        tokens.append(("lit", px))
        pos += 1

    plane_of: dict[int, int] = {}
    for i, (dx, dy) in enumerate(_DIST_MAP):
        d = dy * w + dx
        if d >= 1 and d not in plane_of:
            plane_of[d] = i + 1
    gfreq: dict[int, int] = {}
    rfreq: dict[int, int] = {}
    bfreq: dict[int, int] = {}
    afreq: dict[int, int] = {}
    dfreq: dict[int, int] = {}
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            for freq, val in (
                (gfreq, (px >> 8) & 0xFF),
                (rfreq, (px >> 16) & 0xFF),
                (bfreq, px & 0xFF),
                (afreq, (px >> 24) & 0xFF),
            ):
                freq[val] = freq.get(val, 0) + 1
        elif t[0] == "cache":
            s = 280 + t[1]
            gfreq[s] = gfreq.get(s, 0) + 1
        else:
            code, _, _ = _prefix_value_encode(t[1])
            gfreq[256 + code] = gfreq.get(256 + code, 0) + 1
            dval = plane_of.get(t[2], t[2] + 120)
            dcode, _, _ = _prefix_value_encode(dval)
            dfreq[dcode] = dfreq.get(dcode, 0) + 1
    for freq, default in (
        (rfreq, 0), (bfreq, 0), (afreq, 0xFF), (dfreq, 0),
    ):
        if not freq:
            freq[default] = 1

    galpha = 256 + 24 + cache_size
    gcodes = _write_prefix_code(bw, _huffman_lengths(gfreq, galpha), galpha)
    rcodes = _write_prefix_code(bw, _huffman_lengths(rfreq, 256), 256)
    bcodes = _write_prefix_code(bw, _huffman_lengths(bfreq, 256), 256)
    acodes = _write_prefix_code(bw, _huffman_lengths(afreq, 256), 256)
    dcodes = _write_prefix_code(bw, _huffman_lengths(dfreq, 40), 40)

    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            _emit_sym(bw, gcodes, (px >> 8) & 0xFF)
            _emit_sym(bw, rcodes, (px >> 16) & 0xFF)
            _emit_sym(bw, bcodes, px & 0xFF)
            _emit_sym(bw, acodes, (px >> 24) & 0xFF)
        elif t[0] == "cache":
            _emit_sym(bw, gcodes, 280 + t[1])
        else:
            code, extra, val = _prefix_value_encode(t[1])
            _emit_sym(bw, gcodes, 256 + code)
            if extra:
                bw.write(val, extra)
            dval = plane_of.get(t[2], t[2] + 120)
            dcode, extra, val = _prefix_value_encode(dval)
            _emit_sym(bw, dcodes, dcode)
            if extra:
                bw.write(val, extra)


def _fwd_subtract_green(img: np.ndarray) -> np.ndarray:
    a, r, g, b = _channels(img)
    return _pack(a, (r - g) & 0xFF, g, (b - g) & 0xFF)


def _fwd_predictor(
    img: np.ndarray, size_bits: int
) -> tuple[np.ndarray, np.ndarray]:
    """Residual image + mode sub-image; block modes cycle through all
    14 predictors so a single fixture exercises every mode."""
    h, w = img.shape
    bw_, bh_ = _subsample_size(w, size_bits), _subsample_size(h, size_bits)
    modes = np.fromfunction(
        lambda by, bx: (bx + by * 7) % 14, (bh_, bw_), dtype=np.int64
    ).astype(np.int64)
    data = img.flatten().tolist()
    out = [0] * len(data)
    for y in range(h):
        mrow = modes[y >> size_bits]
        base = y * w
        for x in range(w):
            i = base + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = data[i - 1]
            elif x == 0:
                pred = data[i - w]
            else:
                TR = data[i - w + 1]
                pred = _predict(
                    int(mrow[x >> size_bits]),
                    data[i - 1], data[i - w], data[i - w - 1], TR,
                )
            px, pr = data[i], pred
            out[i] = (
                ((((px >> 24) - (pr >> 24)) & 0xFF) << 24)
                | ((((px >> 16) - (pr >> 16)) & 0xFF) << 16)
                | ((((px >> 8) - (pr >> 8)) & 0xFF) << 8)
                | ((px - pr) & 0xFF)
            )
    sub = _pack(
        np.full((bh_, bw_), 0xFF, dtype=np.uint32),
        np.zeros((bh_, bw_), dtype=np.uint32),
        modes.astype(np.uint32),
        np.zeros((bh_, bw_), dtype=np.uint32),
    )
    return np.array(out, dtype=np.uint32).reshape(h, w), sub


def _fwd_color_transform(
    img: np.ndarray, size_bits: int
) -> tuple[np.ndarray, np.ndarray]:
    """Forward color transform with deterministic per-block multipliers
    (derived from block coords so blocks differ)."""
    h, w = img.shape
    bw_, bh_ = _subsample_size(w, size_bits), _subsample_size(h, size_bits)
    by, bx = np.mgrid[0:bh_, 0:bw_]
    g2r = ((bx * 17 + 3) % 256).astype(np.uint32)
    g2b = ((by * 29 + 5) % 256).astype(np.uint32)
    r2b = ((bx * 7 + by * 11) % 256).astype(np.uint32)

    def expand(m):
        return np.repeat(
            np.repeat(m, 1 << size_bits, axis=0), 1 << size_bits, axis=1
        )[:h, :w].astype(np.int32)

    eg2r, eg2b, er2b = expand(g2r), expand(g2b), expand(r2b)
    a, r, g, b = (c.astype(np.int32) for c in _channels(img))
    sgn = lambda m: np.where(m > 127, m - 256, m)  # noqa: E731
    gs = sgn(g)
    rs = sgn(r)
    new_r = (r - ((sgn(eg2r) * gs) >> 5)) & 0xFF
    new_b = (b - ((sgn(eg2b) * gs) >> 5) - ((sgn(er2b) * rs) >> 5)) & 0xFF
    sub = _pack(
        np.full((bh_, bw_), 0xFF, dtype=np.uint32), r2b, g2b, g2r
    )
    return _pack(a.astype(np.uint32), new_r, g, new_b), sub


def encode_webp(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    *,
    subtract_green: bool = False,
    predictor: bool = False,
    color_transform: bool = False,
    palette: bool = False,
    cache_bits: int = 0,
    use_lz77: bool = True,
) -> bytes:
    """Lossless VP8L encode of an 8-bit gray (channels=1), RGB (3) or
    RGBA (4) plane. Feature flags select which spec paths the stream
    exercises; any combination decodes bit-exactly (palette is
    mutually exclusive with the pixel-domain transforms, as in real
    encoders)."""
    if channels not in (1, 3, 4):
        raise NotImplementedError("encode_webp: channels must be 1, 3 or 4")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dimensions")
    if palette and (subtract_green or predictor or color_transform):
        raise ValueError("palette excludes pixel-domain transforms")
    if not (1 <= width <= 16384 and 1 <= height <= 16384):
        raise ValueError("VP8L dimensions must be 1..16384")
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
        height, width, channels
    )
    if channels == 1:
        r = g = b = arr[:, :, 0].astype(np.uint32)
        a = np.full((height, width), 0xFF, dtype=np.uint32)
    elif channels == 3:
        r, g, b = (arr[:, :, i].astype(np.uint32) for i in range(3))
        a = np.full((height, width), 0xFF, dtype=np.uint32)
    else:
        r, g, b, a = (arr[:, :, i].astype(np.uint32) for i in range(4))
    img = _pack(a, r, g, b)

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if channels == 4 else 0, 1)  # alpha hint
    bw.write(0, 3)  # version

    if palette:
        colors = sorted(set(img.flatten().tolist()))
        if len(colors) > 256:
            raise ValueError("palette encode needs <= 256 distinct colors")
        n_colors = len(colors)
        index_of = {c: i for i, c in enumerate(colors)}
        bw.write(1, 1)
        bw.write(3, 2)  # color indexing
        bw.write(n_colors - 1, 8)
        pal = np.array(colors, dtype=np.uint32).reshape(1, -1)
        # delta-code the palette row component-wise
        pa, pr, pg, pb = _channels(pal)
        deltas = _pack(
            np.diff(pa, prepend=np.uint32(0)) & 0xFF,
            np.diff(pr, prepend=np.uint32(0)) & 0xFF,
            np.diff(pg, prepend=np.uint32(0)) & 0xFF,
            np.diff(pb, prepend=np.uint32(0)) & 0xFF,
        )
        _encode_image_body(bw, deltas, False)
        width_bits = (
            3 if n_colors <= 2 else 2 if n_colors <= 4
            else 1 if n_colors <= 16 else 0
        )
        pal_sorted = np.array(colors, dtype=np.uint32)
        idx = np.searchsorted(pal_sorted, img).astype(np.uint32)
        if width_bits:
            bpp = 8 >> width_bits
            ppb = 1 << width_bits
            packed_w = _subsample_size(width, width_bits)
            packed = np.zeros((height, packed_w), dtype=np.uint32)
            for slot in range(ppb):
                col = idx[:, slot::ppb]
                packed[:, : col.shape[1]] |= col << (slot * bpp)
            idx = packed
        img = _pack(
            np.full(idx.shape, 0xFF, dtype=np.uint32),
            np.zeros(idx.shape, dtype=np.uint32),
            idx,
            np.zeros(idx.shape, dtype=np.uint32),
        )
    else:
        # stream order == forward application order (decoder inverts in
        # reverse): subtract-green, then color transform, then predictor
        if subtract_green:
            bw.write(1, 1)
            bw.write(2, 2)
            img = _fwd_subtract_green(img)
        if color_transform:
            bw.write(1, 1)
            bw.write(1, 2)
            size_bits = 4
            img, sub = _fwd_color_transform(img, size_bits)
            bw.write(size_bits - 2, 3)
            _encode_image_body(bw, sub, False)
        if predictor:
            bw.write(1, 1)
            bw.write(0, 2)
            size_bits = 4
            img, sub = _fwd_predictor(img, size_bits)
            bw.write(size_bits - 2, 3)
            _encode_image_body(bw, sub, False)
    bw.write(0, 1)  # end of transforms
    _encode_image_body(
        bw, img, True, cache_bits=cache_bits, use_lz77=use_lz77
    )
    payload = bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff

"""From-scratch WebP-lossless (VP8L) codec, pure Python/numpy.

Public-spec implementation (the "WebP Lossless Bitstream Specification",
https://developers.google.com/speed/webp/docs/webp_lossless_bitstream_specification):

- `decode_webp` reads the RIFF/WEBP container (simple `VP8L` files and
  `VP8X`-extended files carrying a VP8L chunk) and implements the full VP8L
  decode path: LSB-first bitstream, simple + normal canonical prefix codes
  (code-length codes with 16/17/18 repeats and the max-symbol shortcut),
  color cache, meta-prefix (spatially varying) code groups, LZ77 backward
  references with the 120-entry 2D distance map, and all four inverse
  transforms (predictor with its 14 modes, color transform, subtract-green,
  color indexing with sub-byte bundling).
- `encode_webp` writes a valid VP8L stream covering a useful subset: literal
  pixels under per-channel canonical prefix codes (package-merge
  length-limited), optional subtract-green, optional color cache, optional
  palette (color indexing incl. bundling) and dist-1 run backward references
  — enough to round-trip any RGB(A) image losslessly and to exercise the
  decoder's cache/LZ77/transform paths from the outside.

Lossy VP8 ("VP8 " chunk) raises ValueError — that codec family needs a real
library; same contract as functions/jpeg.py's progressive refusal. An
animated file carries its frames in ANMF chunks, not in a top-level VP8L
chunk, so it raises ValueError too.

Reference parity note: the reference repo (TypeScript) delegates all image
decode to the browser/three.js loaders; this module exists for the graft's
multimodal family (operators/multimodal.py) so the dominant web formats
decode for real in-sandbox. Malformed streams raise ValueError.
"""

from __future__ import annotations

import numpy as np

WEBP_RIFF = b"RIFF"
WEBP_FOURCC = b"WEBP"

# code-length-code write/read order (spec §6.2.2)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# 120-entry 2D offset map for short LZ77 distances (spec §5.2.2), as
# (dx, dy) pairs; dist = dy * xsize + dx, clamped to >= 1.
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
    (3, 7), (-3, 7), (7, 3), (-7, 3), (6, 5), (-6, 5), (5, 6), (-5, 6),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


# ---------------------------------------------------------------------------
# bitstream primitives (VP8L is LSB-first; prefix codes are read MSB-of-code
# first, i.e. accumulated bit by bit like DEFLATE)
# ---------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.bit = 0

    def bits(self, n: int) -> int:
        v = 0
        data, pos, bit = self.data, self.pos, self.bit
        for i in range(n):
            if pos >= len(data):
                raise ValueError("VP8L bitstream truncated")
            v |= ((data[pos] >> bit) & 1) << i
            bit += 1
            if bit == 8:
                bit = 0
                pos += 1
        self.pos, self.bit = pos, bit
        return v

    def bit1(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("VP8L bitstream truncated")
        v = (self.data[self.pos] >> self.bit) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return v


class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def code(self, code: int, length: int) -> None:
        # prefix codes go MSB-first into the LSB-first stream
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc, self.n = 0, 0
        return bytes(self.out)


class _Huff:
    """Canonical prefix decoder from a code-length array (DEFLATE-style
    assignment: codes in symbol order within each length)."""

    __slots__ = ("table", "max_len", "single")

    def __init__(self, lengths: list[int]) -> None:
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("prefix code with no symbols")
        if len(used) == 1:
            self.single = used[0][1]
            self.table = {}
            self.max_len = 0
            return
        self.single = None
        self.max_len = max(l for l, _ in used)
        if self.max_len > 15:
            raise ValueError("prefix code length > 15")
        # canonical assignment; detect over-subscription
        used.sort()
        table: dict[tuple[int, int], int] = {}
        code = 0
        prev_len = used[0][0]
        for l, s in used:
            code <<= l - prev_len
            prev_len = l
            if code >= (1 << l):
                raise ValueError("over-subscribed prefix code")
            table[(l, code)] = s
            code += 1
        self.table = table

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        length = 0
        table = self.table
        while True:
            code = (code << 1) | br.bit1()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
            if length >= self.max_len:
                raise ValueError("invalid prefix code in VP8L stream")

    def encode_map(self) -> dict[int, tuple[int, int]]:
        if self.single is not None:
            return {self.single: (0, 0)}
        return {s: (code, l) for (l, code), s in self.table.items()}


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_webp(data: bytes) -> np.ndarray:
    """WebP bytes → (h, w, 4) RGBA uint8. Still lossless (VP8L) only; lossy
    VP8 and animated files (frames inside ANMF chunks) raise ValueError."""
    try:
        return _decode_container(bytes(data))
    except (IndexError, KeyError) as exc:
        raise ValueError(f"malformed WebP stream: {type(exc).__name__}: {exc}") from exc


def _decode_container(data: bytes) -> np.ndarray:
    if len(data) < 12 or data[:4] != WEBP_RIFF or data[8:12] != WEBP_FOURCC:
        raise ValueError("not a RIFF/WEBP stream")
    pos = 12
    saw_lossy = False
    while pos + 8 <= len(data):
        cc = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated WebP: chunk {cc!r} overruns the file")
        if cc == b"VP8L":
            return _decode_vp8l(body)
        if cc == b"VP8 ":
            saw_lossy = True
        pos += 8 + size + (size & 1)
    if saw_lossy:
        raise ValueError(
            "lossy VP8 WebP needs a codec library; only VP8L (lossless) "
            "decodes in-sandbox"
        )
    raise ValueError("WebP container has no VP8L chunk")


def _decode_vp8l(payload: bytes) -> np.ndarray:
    br = _BitReader(payload)
    if br.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit1()  # alpha-is-used hint
    if br.bits(3) != 0:
        raise ValueError("unsupported VP8L version")
    argb = _decode_image(br, w, h, top_level=True)
    a = (argb >> 24) & 0xFF
    r = (argb >> 16) & 0xFF
    g = (argb >> 8) & 0xFF
    b = argb & 0xFF
    return (
        np.stack([r, g, b, a], axis=-1).astype(np.uint8).reshape(h, w, 4)
    )


def _decode_image(br: _BitReader, w: int, h: int, top_level: bool) -> np.ndarray:
    """Decode one image stream → flat uint32 ARGB array of len w*h (after
    inverse transforms, width restored to w for the top level)."""
    transforms: list[tuple] = []
    xsize = w
    if top_level:
        seen: set[int] = set()
        while br.bit1():
            t = br.bits(2)
            if t in seen:
                raise ValueError("transform repeated in VP8L stream")
            seen.add(t)
            if t == 3:  # color indexing
                n_colors = br.bits(8) + 1
                palette = _decode_image(br, n_colors, 1, top_level=False)
                # palette entries are per-channel delta-coded
                pal = palette.view()
                acc = np.zeros(4, dtype=np.uint32)
                out = np.empty(n_colors, dtype=np.uint32)
                for i in range(n_colors):
                    v = int(pal[i])
                    acc = (
                        acc
                        + np.array(
                            [v >> 24 & 255, v >> 16 & 255, v >> 8 & 255, v & 255],
                            dtype=np.uint32,
                        )
                    ) & 255
                    out[i] = (
                        (int(acc[0]) << 24)
                        | (int(acc[1]) << 16)
                        | (int(acc[2]) << 8)
                        | int(acc[3])
                    )
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(("cidx", xsize, width_bits, out))
                if width_bits:
                    xsize = (xsize + (1 << width_bits) - 1) >> width_bits
            elif t in (0, 1):  # predictor / color transform
                size_bits = br.bits(3) + 2
                bw = (xsize + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub = _decode_image(br, bw, bh, top_level=False)
                transforms.append(
                    ("pred" if t == 0 else "color", xsize, size_bits, sub, bw)
                )
            else:  # subtract green
                transforms.append(("sgreen",))

    pix = _decode_entropy(br, xsize, h, allow_meta=top_level)

    for tf in reversed(transforms):
        if tf[0] == "sgreen":
            pix = _inv_subtract_green(pix)
        elif tf[0] == "pred":
            _, txs, size_bits, sub, bw = tf
            if len(pix) != txs * h:
                raise ValueError("predictor transform width mismatch")
            pix = _inv_predictor(pix, txs, h, size_bits, sub, bw)
        elif tf[0] == "color":
            _, txs, size_bits, sub, bw = tf
            if len(pix) != txs * h:
                raise ValueError("color transform width mismatch")
            pix = _inv_color_transform(pix, txs, h, size_bits, sub, bw)
        else:  # cidx
            _, full_w, width_bits, palette = tf
            pix = _inv_color_indexing(pix, full_w, h, width_bits, palette)
    if len(pix) != w * h:
        raise ValueError("decoded pixel count mismatch")
    return pix


def _decode_entropy(br: _BitReader, w: int, h: int, allow_meta: bool) -> np.ndarray:
    cache_bits = 0
    if br.bit1():
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta_img = None
    meta_bits = 0
    mw = 1
    n_groups = 1
    if allow_meta and br.bit1():
        meta_bits = br.bits(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_raw = _decode_image(br, mw, mh, top_level=False)
        meta_img = (((meta_raw >> 16) & 0xFF) << 8) | ((meta_raw >> 8) & 0xFF)
        n_groups = int(meta_img.max()) + 1

    sizes = [256 + 24 + cache_size, 256, 256, 256, 40]
    groups = []
    for _ in range(n_groups):
        groups.append([_read_huff(br, s) for s in sizes])

    n = w * h
    pix = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    i = 0
    hufs = groups[0]
    while i < n:
        if meta_img is not None:
            x, y = i % w, i // w
            hufs = groups[int(meta_img[(y >> meta_bits) * mw + (x >> meta_bits)])]
        g_h, r_h, b_h, a_h, d_h = hufs
        s = g_h.read(br)
        if s < 256:
            red = r_h.read(br)
            blue = b_h.read(br)
            alpha = a_h.read(br)
            v = (alpha << 24) | (red << 16) | (s << 8) | blue
            pix[i] = v
            if cache_size:
                cache[((0x1E35A7BD * v) & 0xFFFFFFFF) >> (32 - cache_bits)] = v
            i += 1
        elif s < 280:
            length = _read_prefixed(br, s - 256)
            d_sym = d_h.read(br)
            dist_code = _read_prefixed(br, d_sym)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > i or i + length > n:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                v = int(pix[i - dist])
                pix[i] = v
                if cache_size:
                    cache[((0x1E35A7BD * v) & 0xFFFFFFFF) >> (32 - cache_bits)] = v
                i += 1
        else:
            idx = s - 280
            if idx >= cache_size:
                raise ValueError("color-cache index out of range")
            pix[i] = cache[idx]
            i += 1
    return pix


def _read_prefixed(br: _BitReader, sym: int) -> int:
    """Prefix-coded value (spec §5.2.2): symbols 0-3 are the values 1-4;
    beyond that, (extra_bits, offset) growth."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.bits(extra) + 1


def _read_huff(br: _BitReader, alphabet_size: int) -> _Huff:
    if br.bit1():  # simple code
        num = br.bit1() + 1
        if br.bit1():
            s0 = br.bits(8)
        else:
            s0 = br.bit1()
        lengths = [0] * alphabet_size
        if s0 >= alphabet_size:
            raise ValueError("simple-code symbol out of range")
        if num == 1:
            lengths[s0] = 1
            h = _Huff.__new__(_Huff)
            h.single = s0
            h.table = {}
            h.max_len = 0
            return h
        s1 = br.bits(8)
        if s1 >= alphabet_size or s1 == s0:
            raise ValueError("simple-code symbol out of range")
        lengths[s0] = lengths[s1] = 1
        return _Huff(lengths)

    num_cl = 4 + br.bits(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.bits(3)
    cl = _Huff(cl_lengths)

    if br.bit1():
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size

    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        sym = cl.read(br)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev_len = sym
        elif sym == 16:
            rep = 3 + br.bits(2)
            if i + rep > alphabet_size:
                raise ValueError("code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[i] = prev_len
                i += 1
        elif sym == 17:
            rep = 3 + br.bits(3)
            if i + rep > alphabet_size:
                raise ValueError("code-length repeat overruns alphabet")
            i += rep
        else:  # 18
            rep = 11 + br.bits(7)
            if i + rep > alphabet_size:
                raise ValueError("code-length repeat overruns alphabet")
            i += rep
    return _Huff(lengths)


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------


def _inv_subtract_green(pix: np.ndarray) -> np.ndarray:
    g = (pix >> 8) & 0xFF
    r = ((pix >> 16) + g) & 0xFF
    b = (pix + g) & 0xFF
    return (pix & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


def _inv_color_indexing(
    pix: np.ndarray, full_w: int, h: int, width_bits: int, palette: np.ndarray
) -> np.ndarray:
    n_colors = len(palette)
    if width_bits == 0:
        idx = ((pix >> 8) & 0xFF).astype(np.int64)
    else:
        bit_depth = 8 >> width_bits
        packed_w = (full_w + (1 << width_bits) - 1) >> width_bits
        g = ((pix >> 8) & 0xFF).astype(np.int64).reshape(h, packed_w)
        xs = np.arange(full_w)
        shift = (xs & ((1 << width_bits) - 1)) * bit_depth
        idx = (g[:, xs >> width_bits] >> shift[None, :]) & ((1 << bit_depth) - 1)
        idx = idx.reshape(-1)
    out = np.zeros(idx.shape, dtype=np.uint32)
    valid = idx < n_colors
    out[valid] = palette[idx[valid]]
    return out


def _cti_arr(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int32)
    return np.where(v >= 128, v - 256, v)


def _inv_color_transform(
    pix: np.ndarray, w: int, h: int, size_bits: int, sub: np.ndarray, bw: int
) -> np.ndarray:
    # fully vectorized: expand the per-tile transform elements to per-pixel
    # coefficient planes, then apply the spec formula over whole arrays —
    # the decode hot path must never loop per pixel (a 1-MP crawl image is
    # ~1e6 iterations otherwise; same standard as the PNG/JPEG paths)
    p = pix.astype(np.uint32).reshape(h, w)
    ys = np.arange(h, dtype=np.int64) >> size_bits
    xs = np.arange(w, dtype=np.int64) >> size_bits
    cte = sub.astype(np.uint32)[ys[:, None] * bw + xs[None, :]]
    g2r = _cti_arr(cte & 0xFF)
    g2b = _cti_arr((cte >> 8) & 0xFF)
    r2b = _cti_arr((cte >> 16) & 0xFF)
    green = _cti_arr((p >> 8) & 0xFF)
    red = ((p >> 16) & 0xFF).astype(np.int32)
    blue = (p & 0xFF).astype(np.int32)
    red = (red + ((g2r * green) >> 5)) & 0xFF
    blue = (blue + ((g2b * green) >> 5)) & 0xFF
    blue = (blue + ((r2b * _cti_arr(red)) >> 5)) & 0xFF
    out = (p & np.uint32(0xFF00FF00)) | (red.astype(np.uint32) << 16) | blue.astype(
        np.uint32
    )
    return out.reshape(-1)


_VECTOR_PRED_MODES = frozenset((0, 1, 2, 3, 4, 8, 9))


def _inv_predictor(
    pix: np.ndarray, w: int, h: int, size_bits: int, sub: np.ndarray, bw: int
) -> np.ndarray:
    """Inverse predictor transform, row-wise vectorized.

    Per spec the mode is constant within a predictor tile (1 << size_bits
    pixels wide), so each row splits into a handful of constant-mode
    segments. Left-free modes (0 black, 2 T, 3 TR, 4 TL, 8 avg(TL,T),
    9 avg(T,TR)) apply as whole-segment numpy expressions over the previous
    row; mode 1 (L) is the modular prefix-sum of the residuals, i.e. a
    cumsum. Only the genuinely left-recursive modes (5/6/7/10 averages with
    L, 11 Select, 12/13 clamp-adds) fall back to a per-pixel loop, and only
    inside their own segments — real crawl images are dominated by the
    vectorizable modes, so the per-pixel share is small.
    """
    res = np.empty((h, w, 4), dtype=np.int64)  # (A, R, G, B), cumsum-safe
    p = pix.astype(np.uint32).reshape(h, w)
    res[..., 0] = (p >> 24) & 0xFF
    res[..., 1] = (p >> 16) & 0xFF
    res[..., 2] = (p >> 8) & 0xFF
    res[..., 3] = p & 0xFF

    xs_tile = np.arange(w, dtype=np.int64) >> size_bits
    out = np.empty((h, w, 4), dtype=np.int64)
    # row 0: x == 0 seeds with (255, 0, 0, 0); every later pixel predicts L
    # regardless of the mode map → modular prefix sum of the residuals
    seed = np.array([0xFF, 0, 0, 0], dtype=np.int64)
    out[0] = (np.cumsum(res[0], axis=0) + seed) & 0xFF

    # the mode map is constant within a tile ROW group too (1 << size_bits
    # scanlines share it), so masks / index lists / the event walk structure
    # are computed once per group, not once per scanline
    cached_ty = -1
    vec_idx: list = []
    events: list = []
    hard_list: list = []
    m_list: list = []
    for y in range(1, h):
        ty = y >> size_bits
        if ty != cached_ty:
            cached_ty = ty
            row_modes = (sub[ty * bw + xs_tile].astype(np.int64) >> 8) & 0xFF
            m = row_modes[1:]  # index i ↔ pixel x = i + 1
            present = [int(v) for v in np.unique(m)]
            if present and present[-1] > 13:
                raise ValueError(f"invalid predictor mode {present[-1]}")
            # left-free modes as index arrays for one masked expression each
            sequential = np.zeros(w - 1, dtype=bool)  # mode-1 + hard modes
            vec_idx = []
            for mode in present:
                if mode == 1 or mode not in _VECTOR_PRED_MODES:
                    sequential |= m == mode
                    continue
                vec_idx.append((mode, np.flatnonzero(m == mode)))
            # events: mode-1 stretches (cumsum) + hard pixels, left to right
            events = []  # (start_index_in_m, end_index_in_m, is_stretch)
            l_mask = sequential & (m == 1)
            lm = np.flatnonzero(l_mask)
            if lm.size:
                for s in np.split(lm, np.flatnonzero(np.diff(lm) > 1) + 1):
                    events.append((int(s[0]), int(s[-1]), True))
            hard_list = np.flatnonzero(sequential & ~l_mask).tolist()
            events.extend((i, i, False) for i in hard_list)
            events.sort()
            m_list = m.tolist()

        out[y, 0] = (res[y, 0] + out[y - 1, 0]) & 0xFF  # x == 0 predicts T
        # neighbor rows for x = 1..w-1; TR at x = w-1 wraps to this row's
        # first pixel (contiguous-memory semantics), already computed above
        T = out[y - 1, 1:]
        TL = out[y - 1, :-1]
        TR = np.concatenate([out[y - 1, 2:], out[y, 0:1]], axis=0)
        rrow = res[y, 1:]
        ovr = out[y, 1:]
        for mode, ix in vec_idx:
            if mode == 0:
                pred = seed
            elif mode == 2:
                pred = T[ix]
            elif mode == 3:
                pred = TR[ix]
            elif mode == 4:
                pred = TL[ix]
            elif mode == 8:
                pred = (TL[ix] + T[ix]) >> 1
            else:  # 9
                pred = (T[ix] + TR[ix]) >> 1
            ovr[ix] = (rrow[ix] + pred) & 0xFF
        if not events:
            continue
        # remaining pixels resolve left to right: mode-1 stretches collapse
        # to a cumsum seeded by their (resolved) left neighbour; the
        # left-recursive modes (5/6/7/10 averages with L, 11 Select, 12/13
        # clamp-adds) go per pixel on plain Python ints — list-converted
        # neighbour rows, no numpy scalars in the loop
        if hard_list:
            row_out = out[y].tolist()  # L reads during the scalar walk
            Tl, TLl, TRl = T.tolist(), TL.tolist(), TR.tolist()
            res_row = res[y].tolist()
            m_list = m.tolist()
        for start, end, is_stretch in events:
            if is_stretch:
                # pixels x = start+1 .. end+1; seed pixel x = start
                seed_px = (
                    np.asarray(row_out[start], dtype=np.int64)
                    if hard_list
                    else out[y, start]
                )
                out[y, start + 1 : end + 2] = (
                    np.cumsum(res[y, start + 1 : end + 2], axis=0) + seed_px
                ) & 0xFF
                if hard_list:
                    row_out[start + 1 : end + 2] = out[
                        y, start + 1 : end + 2
                    ].tolist()
                continue
            mode = m_list[start]
            x = start + 1
            L = row_out[x - 1]
            Tv, TLv, TRv = Tl[start], TLl[start], TRl[start]
            if mode == 5:
                pred = [
                    ((((l + tr) >> 1) + t) >> 1) for l, t, tr in zip(L, Tv, TRv)
                ]
            elif mode == 6:
                pred = [(l + tl) >> 1 for l, tl in zip(L, TLv)]
            elif mode == 7:
                pred = [(l + t) >> 1 for l, t in zip(L, Tv)]
            elif mode == 10:
                pred = [
                    (((l + tl) >> 1) + ((t + tr) >> 1)) >> 1
                    for l, t, tl, tr in zip(L, Tv, TLv, TRv)
                ]
            elif mode == 11:
                # Select(T, L, TL) per libwebp: Σ(|L-TL| - |T-TL|) <= 0 → T
                d = sum(abs(l - tl) - abs(t - tl) for l, t, tl in zip(L, Tv, TLv))
                pred = Tv if d <= 0 else L
            elif mode == 12:
                pred = [min(255, max(0, l + t - tl)) for l, t, tl in zip(L, Tv, TLv)]
            else:  # 13
                # int(x / 2) truncates toward zero — NOT a >> 1 floor
                ave = [(l + t) >> 1 for l, t in zip(L, Tv)]
                pred = [
                    min(255, max(0, a + int((a - tl) / 2)))
                    for a, tl in zip(ave, TLv)
                ]
            row_out[x] = [(r + pc) & 0xFF for r, pc in zip(res_row[x], pred)]
        if hard_list:
            xs = [i + 1 for i in hard_list]
            out[y, xs] = [row_out[x] for x in xs]

    packed = (
        (out[..., 0].astype(np.uint32) << 24)
        | (out[..., 1].astype(np.uint32) << 16)
        | (out[..., 2].astype(np.uint32) << 8)
        | out[..., 3].astype(np.uint32)
    )
    return packed.reshape(-1)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _limited_lengths(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Length-limited prefix-code lengths via boundary package-merge —
    optimal, always Kraft-complete, deterministic."""
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    base = sorted((freqs[s], (s,)) for s in syms)
    if len(syms) > (1 << limit):
        raise ValueError("alphabet too large for the length limit")
    cur = list(base)
    for _ in range(limit - 1):
        packaged = [
            (cur[i][0] + cur[i + 1][0], cur[i][1] + cur[i + 1][1])
            for i in range(0, len(cur) - 1, 2)
        ]
        cur = sorted(base + packaged)
    lengths: dict[int, int] = {s: 0 for s in syms}
    for _, pack in cur[: 2 * len(syms) - 2]:
        for s in pack:
            lengths[s] += 1
    return lengths


def _write_huff(bwr: _BitWriter, lengths_by_sym: dict[int, int], alphabet: int) -> dict:
    """Write one prefix code (simple if ≤2 symbols fit, else normal with
    code-length coding) and return the symbol→(code, length) map."""
    used = sorted(lengths_by_sym)
    if len(used) <= 2 and all(s <= 255 for s in used):
        bwr.bits(1, 1)  # simple
        bwr.bits(len(used) - 1, 1)
        s0 = used[0]
        if s0 <= 1:
            bwr.bits(0, 1)  # 1-bit first symbol
            bwr.bits(s0, 1)
        else:
            bwr.bits(1, 1)
            bwr.bits(s0, 8)
        if len(used) == 1:
            return {s0: (0, 0)}
        bwr.bits(used[1], 8)
        full = [0] * alphabet
        full[used[0]] = full[used[1]] = 1
        return _Huff(full).encode_map()

    bwr.bits(0, 1)  # normal code
    full = [0] * alphabet
    for s, l in lengths_by_sym.items():
        full[s] = l

    # encode the length array with the code-length code (literals + 17/18
    # zero-runs; no 16-repeats, no max-symbol shortcut). Trailing zeros are
    # NOT implicit — without the shortcut, the decoder reads code-length
    # symbols until the whole alphabet is covered.
    ops: list[tuple[int, int, int]] = []  # (cl_symbol, extra_value, extra_bits)
    i = 0
    while i < alphabet:
        if full[i] == 0:
            j = i
            while j < alphabet and full[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                r = min(run, 138)
                ops.append((18, r - 11, 7))
                run -= r
            while run >= 3:
                r = min(run, 10)
                ops.append((17, r - 3, 3))
                run -= r
            for _ in range(run):
                ops.append((0, 0, 0))
            i = j
        else:
            ops.append((full[i], 0, 0))
            i += 1

    cl_freq: dict[int, int] = {}
    for sym, _, _ in ops:
        cl_freq[sym] = cl_freq.get(sym, 0) + 1
    cl_lengths = _limited_lengths(cl_freq, 7)
    cl_full = [0] * 19
    for s, l in cl_lengths.items():
        cl_full[s] = l
    num_cl = max(
        4, max(pos + 1 for pos, sym in enumerate(_CL_ORDER) if cl_full[sym] > 0)
    )
    bwr.bits(num_cl - 4, 4)
    for pos in range(num_cl):
        bwr.bits(cl_full[_CL_ORDER[pos]], 3)
    bwr.bits(0, 1)  # no max-symbol shortcut
    cl_map = _Huff(cl_full).encode_map()
    for sym, extra, ebits in ops:
        c, l = cl_map[sym]
        bwr.code(c, l)
        if ebits:
            bwr.bits(extra, ebits)
    return _Huff(full).encode_map()


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """Inverse of _read_prefixed: value ≥ 1 → (symbol, extra_value, extra_bits)."""
    if value <= 4:
        return value - 1, 0, 0
    x = value - 1
    for sym in range(4, 40):
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        if offset <= x < offset + (1 << extra):
            return sym, x - offset, extra
    raise ValueError(f"value {value} out of prefix-code range")


def encode_webp(
    img: np.ndarray,
    subtract_green: bool = False,
    cache_bits: int = 0,
    use_palette: bool = False,
    rle: bool = False,
) -> bytes:
    """(h, w, 3|4) uint8 → lossless WebP (VP8L) bytes. Deterministic fixture
    generator, same pattern as encode_png/encode_jpeg.

    Optional stream features (all decode-path exercisers): subtract-green
    transform, color cache (1-11 bits), palette (color-indexing transform,
    incl. sub-byte bundling for ≤16 colors), and dist-1 run-length backward
    references."""
    payload = _vp8l_payload(img, subtract_green, cache_bits, use_palette, rle)
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    body = WEBP_FOURCC + chunk
    return WEBP_RIFF + len(body).to_bytes(4, "little") + body


def _vp8l_payload(
    img: np.ndarray, subtract_green: bool, cache_bits: int, use_palette: bool, rle: bool
) -> bytes:
    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] not in (3, 4) or img.dtype != np.uint8:
        raise ValueError("encode_webp expects (h, w, 3|4) uint8")
    h, w = img.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("image dimensions out of VP8L range")
    if img.shape[2] == 3:
        a = np.full((h, w), 255, dtype=np.uint32)
    else:
        a = img[..., 3].astype(np.uint32)
    r = img[..., 0].astype(np.uint32)
    g = img[..., 1].astype(np.uint32)
    b = img[..., 2].astype(np.uint32)
    argb = ((a << 24) | (r << 16) | (g << 8) | b).reshape(-1)

    bwr = _BitWriter()
    bwr.bits(0x2F, 8)
    bwr.bits(w - 1, 14)
    bwr.bits(h - 1, 14)
    bwr.bits(1 if img.shape[2] == 4 else 0, 1)
    bwr.bits(0, 3)  # version

    xsize = w
    if use_palette:
        colors = np.unique(argb)
        if len(colors) > 256:
            raise ValueError("use_palette requires ≤ 256 distinct colors")
        lut = {int(c): i for i, c in enumerate(colors)}
        idx = np.array([lut[int(v)] for v in argb], dtype=np.uint32)
        bwr.bits(1, 1)  # transform present
        bwr.bits(3, 2)  # color indexing
        bwr.bits(len(colors) - 1, 8)
        # palette entries, per-channel delta-coded, as a (n,1) literal image
        deltas = []
        prev = 0
        for c in colors:
            c = int(c)
            d = 0
            for shift in (24, 16, 8, 0):
                d |= (((c >> shift) - (prev >> shift)) & 0xFF) << shift
            deltas.append(d)
            prev = c
        _encode_entropy_literals(bwr, np.array(deltas, dtype=np.uint32))
        n_colors = len(colors)
        if n_colors <= 2:
            width_bits = 3
        elif n_colors <= 4:
            width_bits = 2
        elif n_colors <= 16:
            width_bits = 1
        else:
            width_bits = 0
        if width_bits:
            bit_depth = 8 >> width_bits
            packed_w = (w + (1 << width_bits) - 1) >> width_bits
            packed = np.zeros((h, packed_w), dtype=np.uint32)
            im = idx.reshape(h, w)
            for x in range(w):
                shift = (x & ((1 << width_bits) - 1)) * bit_depth
                packed[:, x >> width_bits] |= im[:, x] << shift
            argb = ((packed << 8) | np.uint32(0xFF000000)).reshape(-1)
            xsize = packed_w
        else:
            argb = ((idx << 8) | np.uint32(0xFF000000)).reshape(-1)
    if subtract_green:
        if use_palette:
            raise ValueError("subtract_green cannot follow use_palette here")
        bwr.bits(1, 1)
        bwr.bits(2, 2)  # subtract-green
        gg = (argb >> 8) & 0xFF
        rr = ((argb >> 16) - gg) & 0xFF
        bb = (argb - gg) & 0xFF
        argb = (argb & np.uint32(0xFF00FF00)) | (rr << np.uint32(16)) | bb
    bwr.bits(0, 1)  # no more transforms

    _encode_entropy_literals(
        bwr, argb, cache_bits=cache_bits, rle=rle, allow_meta_bit=True
    )
    return bwr.flush()


def _encode_entropy_literals(
    bwr: _BitWriter,
    argb: np.ndarray,
    cache_bits: int = 0,
    rle: bool = False,
    allow_meta_bit: bool = False,
) -> None:
    """Entropy-coded image body: optional color cache + dist-1 runs, one
    prefix-code group, per-channel canonical codes from real frequencies."""
    if cache_bits:
        if not 1 <= cache_bits <= 11:
            raise ValueError("cache_bits must be in 1..11")
        bwr.bits(1, 1)
        bwr.bits(cache_bits, 4)
    else:
        bwr.bits(0, 1)
    if allow_meta_bit:
        bwr.bits(0, 1)  # single prefix-code group
    cache_size = (1 << cache_bits) if cache_bits else 0

    # token pass: (kind, payload) where kind g=green-literal / c=cache / l=lz77
    cache = [None] * cache_size
    tokens: list[tuple] = []
    n = len(argb)
    i = 0
    while i < n:
        v = int(argb[i])
        slot = ((0x1E35A7BD * v) & 0xFFFFFFFF) >> (32 - cache_bits) if cache_size else 0
        if cache_size and cache[slot] == v:
            tokens.append(("c", slot))
        else:
            tokens.append(("g", v))
            if cache_size:
                cache[slot] = v
        i += 1
        if rle:
            run = 0
            while i + run < n and run < 4096 and int(argb[i + run]) == v:
                run += 1  # 4096 = max prefix-codable length (symbol 23)
            if run >= 3:
                # dist-1 backward reference copying v; the decoder re-inserts
                # v into the cache, which is idempotent — states stay in sync
                tokens.append(("l", run))
                i += run

    g_freq: dict[int, int] = {}
    r_freq: dict[int, int] = {}
    b_freq: dict[int, int] = {}
    a_freq: dict[int, int] = {}
    d_freq: dict[int, int] = {}
    for kind, p in tokens:
        if kind == "g":
            g_freq[(p >> 8) & 0xFF] = g_freq.get((p >> 8) & 0xFF, 0) + 1
            r_freq[(p >> 16) & 0xFF] = r_freq.get((p >> 16) & 0xFF, 0) + 1
            b_freq[p & 0xFF] = b_freq.get(p & 0xFF, 0) + 1
            a_freq[(p >> 24) & 0xFF] = a_freq.get((p >> 24) & 0xFF, 0) + 1
        elif kind == "c":
            g_freq[280 + p] = g_freq.get(280 + p, 0) + 1
        else:
            sym, _, _ = _prefix_encode(p)
            g_freq[256 + sym] = g_freq.get(256 + sym, 0) + 1
            d_freq[1] = d_freq.get(1, 0) + 1  # dist_code 2 → symbol 1 ((1,0) map)

    # NOTE: the green alphabet indexes caches at 256+24+idx = 280+idx only
    # when cache_size > 0; symbol space must stay inside the declared size
    g_alpha = 256 + 24 + cache_size
    if any(s >= g_alpha for s in g_freq):
        raise ValueError("green symbol outside alphabet")
    if not d_freq:
        d_freq = {0: 1}
    for f in (r_freq, b_freq, a_freq):
        if not f:
            f[0] = 1

    maps = []
    for freq, alpha in (
        (g_freq, g_alpha),
        (r_freq, 256),
        (b_freq, 256),
        (a_freq, 256),
        (d_freq, 40),
    ):
        lengths = _limited_lengths(freq, 15)
        maps.append(_write_huff(bwr, lengths, alpha))
    g_map, r_map, b_map, a_map, d_map = maps

    for kind, p in tokens:
        if kind == "g":
            c, l = g_map[(p >> 8) & 0xFF]
            bwr.code(c, l)
            c, l = r_map[(p >> 16) & 0xFF]
            bwr.code(c, l)
            c, l = b_map[p & 0xFF]
            bwr.code(c, l)
            c, l = a_map[(p >> 24) & 0xFF]
            bwr.code(c, l)
        elif kind == "c":
            c, l = g_map[280 + p]
            bwr.code(c, l)
        else:
            sym, extra, ebits = _prefix_encode(p)
            c, l = g_map[256 + sym]
            bwr.code(c, l)
            if ebits:
                bwr.bits(extra, ebits)
            c, l = d_map[1]
            bwr.code(c, l)
            # dist_code 2 = map entry (1, 0) = distance 1; symbol 1 carries
            # no extra bits (values 1-4 are literal)

"""WebP-lossless (VP8L) codec: functions/webp.py.

Round-trips cover every encoder feature (literals, subtract-green, color
cache, palette incl. sub-byte bundling, dist-1 runs). Decoder-only paths the
encoder never emits — predictor transform modes, the color transform,
meta-prefix groups, the 2D distance map — are gated by HAND-CRAFTED bitstreams
assembled in the tests from the spec, with expectations computed independently
of the module's inverse-transform code."""

import numpy as np
import pytest

from osm_data_3d_tiles_spark.functions.webp import (
    _BitWriter,
    _write_huff,
    decode_webp,
    encode_webp,
)


def _rgba(img):
    if img.shape[2] == 4:
        return img
    return np.dstack([img, np.full(img.shape[:2], 255, np.uint8)])


def _wrap_vp8l(payload: bytes) -> bytes:
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _header(bwr: _BitWriter, w: int, h: int) -> None:
    bwr.bits(0x2F, 8)
    bwr.bits(w - 1, 14)
    bwr.bits(h - 1, 14)
    bwr.bits(0, 1)
    bwr.bits(0, 3)


def _simple_single(bwr: _BitWriter, sym: int) -> None:
    """Simple prefix code with one symbol (reads zero bits per use)."""
    bwr.bits(1, 1)
    bwr.bits(0, 1)  # num_symbols - 1
    if sym <= 1:
        bwr.bits(0, 1)
        bwr.bits(sym, 1)
    else:
        bwr.bits(1, 1)
        bwr.bits(sym, 8)


def _entropy_constant(bwr: _BitWriter, green: int, red: int = 0, blue: int = 0,
                      alpha: int = 0xFF, meta_bit: bool = False) -> None:
    """Entropy-coded image whose every pixel is the same ARGB literal —
    all five codes are single-symbol, the pixel loop reads zero bits."""
    bwr.bits(0, 1)  # no color cache
    if meta_bit:
        bwr.bits(0, 1)
    for sym in (green, red, blue, alpha, 0):
        _simple_single(bwr, sym)


class TestRoundTrip:
    CASES = [
        {},
        {"subtract_green": True},
        {"cache_bits": 4},
        {"rle": True},
        {"subtract_green": True, "cache_bits": 6, "rle": True},
    ]

    @pytest.mark.parametrize("kw", CASES)
    def test_random_rgb(self, kw):
        img = np.random.RandomState(3).randint(0, 256, (13, 17, 3)).astype(np.uint8)
        assert np.array_equal(decode_webp(encode_webp(img, **kw)), _rgba(img))

    @pytest.mark.parametrize("kw", CASES)
    def test_random_rgba(self, kw):
        img = np.random.RandomState(5).randint(0, 256, (9, 5, 4)).astype(np.uint8)
        assert np.array_equal(decode_webp(encode_webp(img, **kw)), _rgba(img))

    @pytest.mark.parametrize("n_colors", [1, 2, 3, 4, 9, 16, 17, 200])
    def test_palette_all_bundling_widths(self, n_colors):
        """≤2 → 1-bit, ≤4 → 2-bit, ≤16 → 4-bit bundling, >16 unbundled."""
        rng = np.random.RandomState(n_colors)
        pal = rng.randint(0, 256, (n_colors, 3)).astype(np.uint8)
        idx = rng.randint(0, n_colors, (11, 23))
        img = pal[idx]
        for kw in ({"use_palette": True}, {"use_palette": True, "rle": True}):
            assert np.array_equal(decode_webp(encode_webp(img, **kw)), _rgba(img))

    def test_odd_width_bundling(self):
        """Width not a multiple of the bundle factor exercises the tail pack."""
        pal = np.array([[255, 0, 0], [0, 255, 0]], dtype=np.uint8)
        img = pal[np.random.RandomState(1).randint(0, 2, (5, 13))]
        assert np.array_equal(
            decode_webp(encode_webp(img, use_palette=True)), _rgba(img)
        )

    def test_long_runs_hit_length_extra_bits(self):
        img = np.repeat(
            np.random.RandomState(9).randint(0, 256, (3, 4, 3)).astype(np.uint8),
            50, axis=1,
        )  # runs of 50 → length symbols beyond the literal 1-4 range
        assert np.array_equal(decode_webp(encode_webp(img, rle=True)), _rgba(img))

    def test_deterministic_bytes(self):
        img = np.random.RandomState(2).randint(0, 256, (6, 6, 3)).astype(np.uint8)
        assert encode_webp(img) == encode_webp(img)

    def test_1x1(self):
        img = np.array([[[1, 2, 3]]], dtype=np.uint8)
        assert np.array_equal(decode_webp(encode_webp(img)), _rgba(img))


class TestErrors:
    def test_not_webp(self):
        with pytest.raises(ValueError, match="RIFF/WEBP"):
            decode_webp(b"RIFF\x04\x00\x00\x00WAVE")

    def test_lossy_refused(self):
        body = b"WEBP" + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4
        data = b"RIFF" + len(body).to_bytes(4, "little") + body
        with pytest.raises(ValueError, match="lossy VP8"):
            decode_webp(data)

    def test_truncated(self):
        data = encode_webp(np.zeros((4, 4, 3), dtype=np.uint8))
        with pytest.raises(ValueError):
            decode_webp(data[: len(data) - 6])

    def test_bad_signature(self):
        with pytest.raises(ValueError, match="signature"):
            decode_webp(_wrap_vp8l(b"\x00\x00\x00\x00\x00"))

    def test_bad_inputs_to_encoder(self):
        with pytest.raises(ValueError, match="uint8"):
            encode_webp(np.zeros((4, 4, 3), dtype=np.float64))
        with pytest.raises(ValueError, match="distinct colors"):
            rgb = np.random.RandomState(0).randint(0, 256, (24, 24, 3))
            encode_webp(rgb.astype(np.uint8), use_palette=True)


class TestHandCraftedStreams:
    """Decoder-only paths, driven by spec-assembled bitstreams."""

    @pytest.mark.parametrize("mode", range(14))
    def test_predictor_modes(self, mode):
        """4x4 image, one predictor block (size_bits=2) of the given mode.
        Expected output computed by an independent straight-from-spec
        reference below (scalar, scanline order)."""
        w = h = 4
        rng = np.random.RandomState(mode + 1)
        res = rng.randint(0, 4, (h * w, 4))  # small residuals, 2-bit each

        bwr = _BitWriter()
        _header(bwr, w, h)
        bwr.bits(1, 1)  # transform present
        bwr.bits(0, 2)  # predictor
        bwr.bits(0, 3)  # size_bits = 2 → 4-px blocks → 1x1 sub-image
        _entropy_constant(bwr, green=mode)  # block mode lives in green
        bwr.bits(0, 1)  # no more transforms
        # main image: residual channels each use a 4-symbol normal code 0-3
        bwr.bits(0, 1)  # no cache
        bwr.bits(0, 1)  # no meta
        maps = []
        for alpha_size in (280, 256, 256, 256):  # green tree spans 256+24
            maps.append(_write_huff(bwr, {0: 2, 1: 2, 2: 2, 3: 2}, alpha_size))
        _simple_single(bwr, 0)  # distance tree, unused
        g_map, r_map, b_map, a_map = maps
        for a_, r_, g_, b_ in res:  # stored ARGB; stream order G R B A
            for m, s in ((g_map, g_), (r_map, r_), (b_map, b_), (a_map, a_)):
                c, l = m[s]
                bwr.code(c, l)
        out = decode_webp(_wrap_vp8l(bwr.flush()))

        exp = _reference_predictor(res, w, h, mode)
        got = np.stack(
            [out[..., 3], out[..., 0], out[..., 1], out[..., 2]], axis=-1
        ).reshape(-1, 4)
        assert np.array_equal(got, exp), f"mode {mode}"

    def test_color_transform(self):
        """2x2 image under one color-transform element; expected computed by
        the spec formula inline."""
        w = h = 2
        g2r, g2b, r2b = 17, 250, 3  # int8 values 17, -6, 3
        cte_red, cte_green, cte_blue = r2b, g2b, g2r
        base = [  # ARGB residual pixels (alpha, red, green, blue)
            (255, 10, 200, 30),
            (255, 0, 100, 255),
            (255, 128, 5, 7),
            (255, 77, 130, 201),
        ]
        bwr = _BitWriter()
        _header(bwr, w, h)
        bwr.bits(1, 1)
        bwr.bits(1, 2)  # color transform
        bwr.bits(0, 3)  # size_bits=2 → 1x1 sub-image
        bwr.bits(0, 1)  # sub-image: no cache
        _simple_single(bwr, cte_green)
        _simple_single(bwr, cte_red)
        _simple_single(bwr, cte_blue)
        _simple_single(bwr, 0xFF)  # alpha
        _simple_single(bwr, 0)  # distance
        bwr.bits(0, 1)  # no more transforms
        bwr.bits(0, 1)  # main: no cache
        bwr.bits(0, 1)  # no meta
        maps = []
        for ch, alpha_size in enumerate((280, 256, 256, 256)):
            vals = [(p[2], p[1], p[3], p[0])[ch] for p in base]
            freq = {}
            for v in vals:
                freq[v] = freq.get(v, 0) + 1
            lengths = {v: 2 for v in freq} if len(freq) > 2 else {v: 1 for v in freq}
            if len(freq) == 1:
                lengths = {next(iter(freq)): 1}
            maps.append(_write_huff(bwr, lengths, alpha_size))
        _simple_single(bwr, 0)
        g_map, r_map, b_map, a_map = maps
        for a_, r_, g_, b_ in base:
            for m, s in ((g_map, g_), (r_map, r_), (b_map, b_), (a_map, a_)):
                c, l = m[s]
                bwr.code(c, l)
        out = decode_webp(_wrap_vp8l(bwr.flush())).reshape(-1, 4)

        def s8(v):
            return v - 256 if v >= 128 else v

        for (a_, r_, g_, b_), got in zip(base, out):
            red = (r_ + ((s8(g2r) * s8(g_)) >> 5)) & 0xFF
            blue = (b_ + ((s8(g2b) * s8(g_)) >> 5)) & 0xFF
            blue = (blue + ((s8(r2b) * s8(red)) >> 5)) & 0xFF
            assert tuple(got) == (red, g_, blue, a_)

    def test_meta_prefix_groups(self):
        """8x4 image, meta_bits=2 → two 4x4 blocks with different constant
        colors coded by different prefix-code groups."""
        w, h = 8, 4
        bwr = _BitWriter()
        _header(bwr, w, h)
        bwr.bits(0, 1)  # no transforms
        bwr.bits(0, 1)  # no cache
        bwr.bits(1, 1)  # meta prefix codes present
        bwr.bits(0, 3)  # meta_bits = 2 → 2x1 meta image
        # meta image: greens 0 then 1 → groups 0, 1 (red stays 0)
        bwr.bits(0, 1)  # meta image: no cache
        bwr.bits(1, 1)  # green: simple code...
        bwr.bits(1, 1)  # ...two symbols
        bwr.bits(0, 1)  # first symbol in 1 bit
        bwr.bits(0, 1)  # symbol0 = 0
        bwr.bits(1, 8)  # symbol1 = 1
        for sym in (0, 0, 0xFF, 0):  # red, blue, alpha, distance
            _simple_single(bwr, sym)
        bwr.code(0, 1)  # meta pixel (0,0): green 0 → group 0
        bwr.code(1, 1)  # meta pixel (1,0): green 1 → group 1
        # group 0: constant green 100; group 1: constant green 200
        for green in (100, 200):
            _simple_single(bwr, green)
            for sym in (0, 0, 0xFF, 0):
                _simple_single(bwr, sym)
        out = decode_webp(_wrap_vp8l(bwr.flush()))
        assert (out[:, :4, 1] == 100).all()
        assert (out[:, 4:, 1] == 200).all()

    @pytest.mark.parametrize(
        "dist_code,src_of",
        [
            (1, lambda i, w: i - w),      # (0, 1): row above
            (2, lambda i, w: i - 1),      # (1, 0): left
            (3, lambda i, w: i - w - 1),  # (1, 1): up-left
            (4, lambda i, w: i - w + 1),  # (-1, 1): up-right
            (124, lambda i, w: i - 4),    # plain distance 124-120
        ],
    )
    def test_distance_map(self, dist_code, src_of):
        """Row 0 = distinct literals; row 1 = one literal then a length-4
        backward reference at the given dist_code."""
        w, h = 5, 2
        reds = list(range(10, 10 + w)) + [90]  # literals' red channel
        bwr = _BitWriter()
        _header(bwr, w, h)
        bwr.bits(0, 1)  # no transforms
        bwr.bits(0, 1)  # no cache
        bwr.bits(0, 1)  # no meta
        g_map = _write_huff(bwr, {0: 1, 256 + 3: 1}, 280)  # literal g=0 / len 4
        r_map = _write_huff(bwr, {v: 3 for v in reds}, 256)
        _simple_single(bwr, 0)  # blue
        _simple_single(bwr, 0xFF)  # alpha
        d_sym, d_extra, d_ebits = _dist_prefix(dist_code)
        d_map = _write_huff(bwr, {d_sym: 1}, 40)
        for red in reds:  # w+1 literals: all of row 0 + first pixel of row 1
            c, l = g_map[0]
            bwr.code(c, l)
            c, l = r_map[red]
            bwr.code(c, l)
        c, l = g_map[256 + 3]  # length symbol for 4
        bwr.code(c, l)
        c, l = d_map[d_sym]
        bwr.code(c, l)
        if d_ebits:
            bwr.bits(d_extra, d_ebits)
        out = decode_webp(_wrap_vp8l(bwr.flush()))
        flat_red = out[..., 0].reshape(-1)
        assert list(flat_red[: w + 1]) == reds
        for i in range(w + 1, 2 * w):
            assert flat_red[i] == flat_red[src_of(i, w)], (dist_code, i)


class TestExtendedContainer:
    def test_still_vp8x_with_vp8l_chunk_decodes_like_plain_file(self):
        """VP8X header (alpha flag, 7x5 canvas) in front of the VP8L chunk
        of a plain file: the same pixels come out."""
        img = np.random.RandomState(5).randint(0, 256, (5, 7, 4)).astype(np.uint8)
        plain = encode_webp(img)
        vp8x = b"VP8X" + (10).to_bytes(4, "little") + bytes((0x10, 0, 0, 0))
        vp8x += (7 - 1).to_bytes(3, "little") + (5 - 1).to_bytes(3, "little")
        body = b"WEBP" + vp8x + plain[12:]
        extended = b"RIFF" + len(body).to_bytes(4, "little") + body
        assert np.array_equal(decode_webp(extended), decode_webp(plain))
        assert np.array_equal(decode_webp(extended), img)


class TestSparkStage:
    def test_resize_images_real_webp_path(self, spark):
        """WebP payloads decode FOR REAL through the resize Arrow stage —
        lossless, so the output must equal resize(decode(payload)) exactly."""
        from osm_data_3d_tiles_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            decode_image_real,
            resize_images,
            resize_nearest,
        )

        rng = np.random.RandomState(11)
        rows = []
        for i, kw in enumerate(
            [{}, {"subtract_green": True}, {"cache_bits": 5}, {"rle": True}]
        ):
            img = rng.randint(0, 256, (10 + i, 12, 3)).astype(np.uint8)
            rows.append(
                (i, "image", bytearray(encode_webp(img, **kw)),
                 (12, 10 + i, "image/webp", None))
            )
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = {r.media_id: r for r in resize_images(media, 6, 5).collect()}
        assert len(out) == 4
        for r in media.collect():
            want = resize_nearest(decode_image_real(bytes(r.payload)), 6, 5)
            got = np.frombuffer(
                bytes(out[r.media_id].payload), dtype=np.uint8
            ).reshape(5, 6, 3)
            assert np.array_equal(got, want), r.media_id

    def test_lossy_webp_falls_back_to_stub(self):
        from osm_data_3d_tiles_spark.operators.multimodal import (
            decode_pixels,
            decode_pixels_stub,
        )

        body = b"WEBP" + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4
        data = b"RIFF" + len(body).to_bytes(4, "little") + body
        assert np.array_equal(
            decode_pixels(data, 7, 3), decode_pixels_stub(data, 7, 3)
        )

    def test_avi_riff_still_routes_to_stub_not_webp(self):
        """Both AVI and WebP are RIFF — the fourcc at offset 8 must decide."""
        from osm_data_3d_tiles_spark.operators.multimodal import (
            decode_pixels,
            decode_pixels_stub,
        )

        body = b"AVI " + b"LIST" + (4).to_bytes(4, "little") + b"hdrl"
        avi = b"RIFF" + len(body).to_bytes(4, "little") + body
        assert np.array_equal(
            decode_pixels(avi, 4, 4), decode_pixels_stub(avi, 4, 4)
        )


def _dist_prefix(value):
    if value <= 4:
        return value - 1, 0, 0
    for sym in range(4, 40):
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        if offset <= value - 1 < offset + (1 << extra):
            return sym, value - 1 - offset, extra
    raise AssertionError


class TestVectorizedPredictorParity:
    """The segment-vectorized _inv_predictor against the scalar spec
    reference on a multi-tile image mixing all 14 modes — covers segment
    boundaries, the cumsum L-chain, the TR wrap at x = w-1, and the scalar
    fallback modes in one run (regression: round-5 vectorization)."""

    def test_random_mode_map(self):
        from osm_data_3d_tiles_spark.functions.webp import _inv_predictor

        rng = np.random.RandomState(7)
        w, h, size_bits = 37, 23, 2  # 4-px tiles, non-multiple dims
        bw = (w + 3) >> 2
        bh = (h + 3) >> 2
        modes = rng.randint(0, 14, bw * bh)
        # every mode must appear at least once
        modes[:14] = np.arange(14)
        sub = (modes.astype(np.uint32) << 8) | np.uint32(0xFF000000)
        res4 = rng.randint(0, 256, (h * w, 4))  # (A, R, G, B) full range
        pix = (
            (res4[:, 0].astype(np.uint32) << 24)
            | (res4[:, 1].astype(np.uint32) << 16)
            | (res4[:, 2].astype(np.uint32) << 8)
            | res4[:, 3].astype(np.uint32)
        )
        got = _inv_predictor(pix, w, h, size_bits, sub, bw)
        exp = _reference_predictor(
            res4, w, h, mode=None,
            mode_at=lambda x, y: int(modes[(y >> size_bits) * bw + (x >> size_bits)]),
        )
        got4 = np.stack(
            [(got >> 24) & 255, (got >> 16) & 255, (got >> 8) & 255, got & 255],
            axis=-1,
        )
        assert np.array_equal(got4, exp)


def _reference_predictor(res, w, h, mode, mode_at=None):
    """Independent scalar reimplementation of the predictor inverse, straight
    from the spec text (ARGB tuples, scanline order)."""

    def avg2(a, b):
        return tuple((x + y) >> 1 for x, y in zip(a, b))

    def clip(v):
        return max(0, min(255, v))

    out = []
    for i in range(h * w):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            pred = (255, 0, 0, 0)
        elif y == 0:
            pred = out[i - 1]
        elif x == 0:
            pred = out[i - w]
        else:
            if mode_at is not None:
                mode = mode_at(x, y)
            L, T, TL = out[i - 1], out[i - w], out[i - w - 1]
            TR = out[i - w + 1]
            pred = {
                0: (255, 0, 0, 0), 1: L, 2: T, 3: TR, 4: TL,
                5: avg2(avg2(L, TR), T), 6: avg2(L, TL), 7: avg2(L, T),
                8: avg2(TL, T), 9: avg2(T, TR),
                10: avg2(avg2(L, TL), avg2(T, TR)),
            }.get(mode)
            if mode == 11:
                d = sum(abs(l - tl) - abs(t - tl) for l, t, tl in zip(L, T, TL))
                pred = T if d <= 0 else L
            elif mode == 12:
                pred = tuple(clip(l + t - tl) for l, t, tl in zip(L, T, TL))
            elif mode == 13:
                ave = avg2(L, T)
                pred = tuple(
                    clip(a + int((a - tl) / 2)) for a, tl in zip(ave, TL)
                )
        out.append(tuple((rc + pc) & 0xFF for rc, pc in zip(res[i], pred)))
    return np.array(out)

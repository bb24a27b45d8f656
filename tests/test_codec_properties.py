"""Property-based round-trip gates for the from-scratch image codecs (WebP,
JPEG). Each property is the codec's strongest oracle available
in-sandbox: encode→decode must reproduce the input exactly (lossless formats)
or within the quantization bound (JPEG), for arbitrary generated inputs — not
just the fixture shapes the unit tests pin."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


class TestWebpProperties:
    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 40),
        st.integers(1, 40),
        st.booleans(),
        st.integers(0, 6),
        st.booleans(),
        st.integers(0, 2**31),
    )
    def test_round_trip_lossless(self, h, w, sgreen, cache, rle, seed):
        from osm_data_3d_tiles_spark.functions.webp import decode_webp, encode_webp

        rng = np.random.RandomState(seed % (2**32 - 1))
        img = rng.randint(0, 256, (h, w, 4)).astype(np.uint8)
        data = encode_webp(img, subtract_green=sgreen, cache_bits=cache, rle=rle)
        assert np.array_equal(decode_webp(data), img)

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 16), st.integers(1, 20), st.integers(1, 20),
           st.integers(0, 2**31))
    def test_palette_round_trip_lossless(self, n_colors, h, w, seed):
        from osm_data_3d_tiles_spark.functions.webp import decode_webp, encode_webp

        rng = np.random.RandomState(seed % (2**32 - 1))
        pal = rng.randint(0, 256, (n_colors, 4)).astype(np.uint8)
        img = pal[rng.randint(0, n_colors, (h, w))]
        assert np.array_equal(decode_webp(encode_webp(img, use_palette=True)), img)

    @settings(max_examples=40, deadline=None)
    @given(st.binary(min_size=0, max_size=300), st.integers(0, 2**31))
    def test_mutations_never_escape_valueerror(self, blob, seed):
        from osm_data_3d_tiles_spark.functions.webp import decode_webp, encode_webp

        rng = np.random.RandomState(seed % (2**32 - 1))
        base = bytearray(encode_webp(rng.randint(0, 256, (6, 7, 3)).astype(np.uint8)))
        for _ in range(4):
            base[rng.randint(0, len(base))] = rng.randint(0, 256)
        for data in (bytes(blob), b"RIFF" + bytes(blob), bytes(base)):
            try:
                decode_webp(data)
            except ValueError:
                pass


class TestJpegProperties:
    @settings(max_examples=20, deadline=None)
    @given(st.integers(8, 40), st.integers(8, 40), st.integers(0, 2**31))
    def test_smooth_images_bounded_error(self, h, w, seed):
        from osm_data_3d_tiles_spark.functions.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(seed % (2**32 - 1))
        # smooth ramp + small noise: quality 95 must stay close
        yy, xx = np.mgrid[0:h, 0:w]
        base = (xx * 255 // max(w - 1, 1))[..., None].repeat(3, axis=2)
        img = np.clip(base + rng.randint(-8, 9, base.shape), 0, 255).astype(np.uint8)
        got = decode_jpeg(encode_jpeg(img, quality=95, subsample="444"))
        assert got.shape == img.shape
        assert np.abs(got.astype(int) - img.astype(int)).mean() < 10

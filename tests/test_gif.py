"""From-scratch GIF codec (functions/gif.py): LZW round-trips, interlace,
transparency compositing, frame counting, and the refusal contract."""

import numpy as np
import pytest

from osm_data_3d_tiles_spark.functions.gif import (
    decode_gif,
    encode_gif,
    gif_frame_count,
)


def _pattern(h=24, w=32, colors=7):
    yy, xx = np.mgrid[0:h, 0:w]
    idx = (xx * 3 + yy * 5) % colors
    palette = np.stack(
        [(np.arange(colors) * 37) % 256,
         (np.arange(colors) * 91) % 256,
         (np.arange(colors) * 53) % 256], axis=1
    ).astype(np.uint8)
    return palette[idx]


class TestRoundTrip:
    @pytest.mark.parametrize("colors", [2, 7, 16, 100, 256])
    def test_lossless(self, colors):
        img = _pattern(colors=colors)
        got = decode_gif(encode_gif(img))
        assert got.shape == img.shape
        assert (got == img).all()

    def test_single_color(self):
        img = np.full((5, 9, 3), 200, dtype=np.uint8)
        assert (decode_gif(encode_gif(img)) == img).all()

    def test_large_enough_to_grow_code_width(self):
        # noisy deterministic 256-color image forces thousands of dictionary
        # entries, exercising width growth 9→10→11→12 bits and a dict reset
        idx = ((np.arange(160 * 120) * 2654435761) >> 7).astype(np.uint64) % 256
        palette = np.stack(
            [(np.arange(256) * 37) % 256,
             (np.arange(256) * 91) % 256,
             (np.arange(256) * 53) % 256], axis=1
        ).astype(np.uint8)
        img = palette[idx.astype(np.intp)].reshape(160, 120, 3)
        got = decode_gif(encode_gif(img))
        assert (got == img).all()

    def test_deterministic_bytes(self):
        img = _pattern()
        assert encode_gif(img) == encode_gif(img)

    def test_frame_count(self):
        assert gif_frame_count(encode_gif(_pattern())) == 1

    def test_encode_too_many_colors(self):
        yy, xx = np.mgrid[0:32, 0:32]
        img = np.stack([xx * 8 % 256, yy * 8 % 256, (xx + yy) % 256], axis=-1).astype(np.uint8)
        with pytest.raises(ValueError, match="distinct colors"):
            encode_gif(img)


class TestSpecFeatures:
    def test_interlaced_stream(self):
        """Hand-build an interlaced frame: rows permuted into pass order must
        come back in display order."""
        img = _pattern(h=16, w=8, colors=4)
        data = bytearray(encode_gif(img))
        # flip the interlace flag and re-permute pixel rows into pass order
        i = data.find(b"\x2c")
        assert data[i + 9] == 0
        from osm_data_3d_tiles_spark.functions import gif as g

        flat = img.reshape(-1, 3)
        palette, idx = np.unique(flat, axis=0, return_inverse=True)
        rows = idx.reshape(16, 8)
        order = [r for s, st in g._INTERLACE_PASSES for r in range(s, 16, st)]
        permuted = rows[order].reshape(-1).astype(np.uint8)

        size_field = max(1, int(np.ceil(np.log2(max(len(palette), 2)))))
        mcs = max(2, size_field)
        lzw = g._lzw_encode(permuted, mcs)
        body = bytearray()
        for k in range(0, len(lzw), 255):
            chunk = lzw[k : k + 255]
            body += bytes((len(chunk),)) + chunk
        body += b"\x00\x3b"
        rebuilt = bytes(data[: i + 9]) + bytes((0x40, mcs)) + bytes(body)
        got = decode_gif(rebuilt)
        assert (got == img).all()

    def test_transparency_composites_background(self):
        img = _pattern(h=6, w=6, colors=3)
        data = bytearray(encode_gif(img))
        # inject a GCE marking palette index 0 transparent; bg color is
        # palette slot 0 too, so pixels stay identical — but the masked
        # compositing path is exercised
        i = data.find(b"\x2c")
        gce = bytes((0x21, 0xF9, 0x04, 0x01, 0x00, 0x00, 0x00, 0x00))
        rebuilt = bytes(data[:i]) + gce + bytes(data[i:])
        got = decode_gif(rebuilt)
        assert (got == img).all()


class TestRefusals:
    def test_not_gif(self):
        with pytest.raises(ValueError, match="signature"):
            decode_gif(b"\x89PNG\r\n\x1a\n")

    def test_truncated_lzw(self):
        data = bytearray(encode_gif(_pattern()))
        with pytest.raises(ValueError):
            decode_gif(bytes(data[: len(data) // 2]))

    def test_no_frame(self):
        data = bytearray(encode_gif(_pattern(h=4, w=4, colors=2)))
        i = data.find(b"\x2c")
        with pytest.raises(ValueError, match="no image frame"):
            decode_gif(bytes(data[:i]) + b"\x3b")

    def test_lying_subblock_never_indexerror(self):
        data = bytearray(encode_gif(_pattern()))
        # turn the sub-block terminator into a length that runs off the end
        assert data[-2] == 0x00 and data[-1] == 0x3B
        data[-2] = 0xFF
        with pytest.raises(ValueError, match="sub-block|truncated"):
            decode_gif(bytes(data))


class TestAnimation:
    """Full animation semantics: delays, disposal 2/3, transparency."""

    def _frames(self, n=4, h=10, w=12):
        rng = np.random.RandomState(n)
        pal = (np.arange(6)[:, None] * np.array([40, 80, 20]) % 256).astype(np.uint8)
        return [pal[rng.randint(0, 6, (h, w))] for _ in range(n)]

    def test_full_frame_animation_round_trip(self):
        from osm_data_3d_tiles_spark.functions.gif import (
            decode_gif_frames,
            encode_gif_animated,
        )

        frames = self._frames(4)
        delays = [50, 100, 150, 200]
        clip = decode_gif_frames(encode_gif_animated(frames, delays))
        assert clip["n_frames"] == 4
        for (ts, got), want, exp_ts in zip(
            clip["frames"], frames, [0, 50, 150, 300]
        ):
            assert ts == exp_ts
            assert np.array_equal(got, want)

    def test_zero_delay_uses_100ms_convention(self):
        from osm_data_3d_tiles_spark.functions.gif import (
            decode_gif_frames,
            encode_gif_animated,
        )

        clip = decode_gif_frames(encode_gif_animated(self._frames(3), 0))
        assert [ts for ts, _ in clip["frames"]] == [0, 100, 200]

    def test_disposal_2_restores_background(self):
        """Frame 1 is a sub-rect with disposal 2: frame 2's canvas shows the
        background color where frame 1 painted (computed independently)."""
        from osm_data_3d_tiles_spark.functions.gif import (
            decode_gif_frames,
            encode_gif_animated,
        )

        # background = palette index 0 = lexicographically smallest color =
        # (10,10,10), DISTINCT from both the patch (200) and base-after-patch
        # alternatives, so this discriminates disposal 2 from 0/1 AND from 3
        base = np.full((8, 8, 3), 60, np.uint8)
        base[0, 0] = (10, 10, 10)  # forces bg color into the palette head
        patch = np.full((3, 3, 3), 200, np.uint8)
        tpix = np.full((2, 2, 3), 90, np.uint8)  # small frame 2
        data = encode_gif_animated(
            [base, patch, tpix],
            delays_ms=100,
            offsets=[(0, 0), (2, 2), (6, 6)],
            disposals=[0, 2, 0],
        )
        clip = decode_gif_frames(data)
        f1 = clip["frames"][1][1]
        assert (f1[2:5, 2:5] == 200).all() and f1[1, 1, 0] == 60
        f2 = clip["frames"][2][1]
        assert (f2[2:5, 2:5] == 10).all()  # restored to background, not left
        assert (f2[6:8, 6:8] == 90).all()
        assert f2[1, 1, 0] == 60  # untouched area still frame-0 pixels

    def test_disposal_3_restores_previous(self):
        from osm_data_3d_tiles_spark.functions.gif import (
            decode_gif_frames,
            encode_gif_animated,
        )

        base = np.full((6, 6, 3), 200, np.uint8)
        patch = np.full((2, 2, 3), 50, np.uint8)
        tail = np.full((1, 1, 3), 90, np.uint8)
        clip = decode_gif_frames(
            encode_gif_animated(
                [base, patch, tail],
                delays_ms=100,
                offsets=[(0, 0), (1, 1), (5, 5)],
                disposals=[0, 3, 0],
            )
        )
        f2 = clip["frames"][2][1]
        assert (f2[1:3, 1:3] == 200).all()  # patch undone
        assert (f2[5, 5] == 90).all()

    def test_transparency_leaves_previous_canvas(self):
        from osm_data_3d_tiles_spark.functions.gif import (
            decode_gif_frames,
            encode_gif_animated,
        )

        base = np.full((4, 4, 3), 200, np.uint8)
        overlay = np.full((4, 4, 3), 0, np.uint8)
        overlay[:2] = (50, 50, 50)  # bottom half = transparent color
        clip = decode_gif_frames(
            encode_gif_animated([base, overlay], 100, transparent_rgb=(0, 0, 0))
        )
        f1 = clip["frames"][1][1]
        assert (f1[:2] == 50).all()
        assert (f1[2:] == 200).all()  # transparent pixels kept the base

    def test_first_frame_contract_unchanged(self):
        from osm_data_3d_tiles_spark.functions.gif import decode_gif

        frames = self._frames(3)
        data_anim = __import__(
            "osm_data_3d_tiles_spark.functions.gif", fromlist=["encode_gif_animated"]
        ).encode_gif_animated(frames, 100)
        assert np.array_equal(decode_gif(data_anim), frames[0])


class TestDispatch:
    def test_decode_image_real_gif(self):
        from osm_data_3d_tiles_spark.operators.multimodal import decode_image_real

        img = _pattern()
        assert (decode_image_real(encode_gif(img)) == img).all()

    def test_decode_pixels_gif_and_corrupt_fallback(self):
        from osm_data_3d_tiles_spark.operators.multimodal import decode_pixels

        img = _pattern(h=10, w=10)
        payload = encode_gif(img)
        assert (decode_pixels(payload, 10, 10) == img).all()
        corrupt = payload[:20]  # valid magic, truncated body → stub, not raise
        out = decode_pixels(corrupt, 10, 10)
        assert out.shape == (10, 10, 3)

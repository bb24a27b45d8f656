"""From-scratch BMP (Windows DIB) reader + writer in pure numpy.

Public-spec implementation (BITMAPFILEHEADER + BITMAPINFOHEADER layout):
uncompressed BI_RGB pixel data at the stated file offset, rows padded to
4 bytes, bottom-up unless the height is negative. Supported:

- 24-bit BGR and 32-bit BGRX (alpha/padding byte dropped)
- 8-bit palettized (BGRA color table after the info header)
- BITMAPV4/V5 headers (any biSize >= 40 — the 40-byte core is read and the
  pixel offset field skips the rest)

Also here: ICO (favicon) decode — directory parse, best-entry pick, both
PNG-compressed and headerless-DIB entries (doubled biHeight covering the
XOR pixels + 1-bit AND transparency mask; transparency composites onto
black).

RLE-compressed and bitfield variants raise ValueError — mirroring the
PNG/JPEG contract (common variants real, exotic ones refused; see
operators/multimodal.py).

Reference parity note: the reference repo has no raster-image path; this
module exists for the LLM-data-pipeline multimodal family alongside
functions/atlas.py (PNG), jpeg.py and webp.py.

Everything is one `np.frombuffer` + slicing per image; no per-pixel Python.
"""

from __future__ import annotations

import numpy as np


def _u16(b: bytes, o: int = 0) -> int:
    return b[o] | (b[o + 1] << 8)


def _u32(b: bytes, o: int = 0) -> int:
    return b[o] | (b[o + 1] << 8) | (b[o + 2] << 16) | (b[o + 3] << 24)


def _p16(v: int) -> bytes:
    return bytes((v & 0xFF, (v >> 8) & 0xFF))


def _p32(v: int) -> bytes:
    return bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF, (v >> 24) & 0xFF))


BMP_MAGIC = b"BM"

_BI_RGB = 0


def _i32(b: bytes, o: int) -> int:
    v = _u32(b, o)
    return v - (1 << 32) if v >= 1 << 31 else v


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes → (H, W, 3) uint8 RGB. Raises ValueError on non-BMP,
    compressed, or malformed input (lying sizes surface as ValueError)."""
    try:
        return _decode_bmp_impl(bytes(data))
    except (IndexError, KeyError) as exc:
        raise ValueError(f"malformed BMP stream: {type(exc).__name__}: {exc}") from exc


def _decode_bmp_impl(data: bytes) -> np.ndarray:
    if len(data) < 54 or data[:2] != BMP_MAGIC:
        raise ValueError("not a BMP stream")
    pixel_offset = _u32(data, 10)
    hdr_size = _u32(data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (BITMAPCOREHEADER)")
    width = _i32(data, 18)
    height = _i32(data, 22)
    bpp = _u16(data, 28)
    compression = _u32(data, 30)
    colors_used = _u32(data, 46)

    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"invalid BMP dimensions {width}x{height}")
    if compression != _BI_RGB:
        raise ValueError(
            f"unsupported BMP compression {compression} "
            "(only uncompressed BI_RGB decodes in-sandbox)"
        )
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp} (8/24/32 supported)")

    stride = ((bpp * width + 31) // 32) * 4
    need = pixel_offset + stride * height
    if pixel_offset < 14 + hdr_size or need > len(data):
        raise ValueError(
            f"BMP pixel data out of bounds (offset {pixel_offset}, "
            f"need {need}, have {len(data)})"
        )
    rows = np.frombuffer(
        data[pixel_offset : pixel_offset + stride * height], dtype=np.uint8
    ).reshape(height, stride)
    if not top_down:
        rows = rows[::-1]

    if bpp == 8:
        n_colors = colors_used or 256
        pal_off = 14 + hdr_size
        if pal_off + 4 * n_colors > pixel_offset:
            raise ValueError("BMP palette overlaps pixel data")
        pal = np.frombuffer(
            data[pal_off : pal_off + 4 * n_colors], dtype=np.uint8
        ).reshape(n_colors, 4)
        idx = rows[:, :width]
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("BMP palette index out of range")
        return pal[idx][..., [2, 1, 0]].copy()  # BGRA quads → RGB

    n_bytes = bpp // 8
    px = rows[:, : width * n_bytes].reshape(height, width, n_bytes)
    return px[..., [2, 1, 0]].copy()  # BGR(X) → RGB


ICO_MAGIC = b"\x00\x00\x01\x00"


def decode_ico(data: bytes) -> np.ndarray:
    """ICO (favicon) bytes → (H, W, 3) uint8 RGB of the best entry (largest
    area, then deepest bitcount). Entries are either PNG bitstreams (modern
    high-res favicons) or headerless DIBs with doubled height (XOR pixels +
    1-bit AND transparency mask). Transparent pixels composite onto black —
    icon backgrounds are transparency, not color. 8/24/32-bpp DIB entries
    decode; 1/4-bpp legacy entries raise ValueError."""
    try:
        return _decode_ico_impl(bytes(data))
    except (IndexError, KeyError) as exc:
        raise ValueError(f"malformed ICO stream: {type(exc).__name__}: {exc}") from exc


def _decode_ico_impl(data: bytes) -> np.ndarray:
    if len(data) < 6 or data[:4] != ICO_MAGIC:
        raise ValueError("not an ICO stream")
    count = _u16(data, 4)
    if count == 0:
        raise ValueError("empty ICO directory")
    best = None
    for i in range(count):
        o = 6 + 16 * i
        if o + 16 > len(data):
            raise ValueError("ICO directory truncated")
        w = data[o] or 256
        h = data[o + 1] or 256
        bitcount = _u16(data, o + 6)
        size = _u32(data, o + 8)
        off = _u32(data, o + 12)
        if off + size > len(data):
            raise ValueError("ICO entry out of bounds")
        key = (w * h, bitcount)
        if best is None or key > best[0]:
            best = (key, off, size)
    _, off, size = best
    sub = data[off : off + size]

    if sub[:8] == b"\x89PNG\r\n\x1a\n":
        from .atlas import decode_png

        rgba = decode_png(sub)
        a = rgba[..., 3:4].astype(np.uint16)
        return ((rgba[..., :3].astype(np.uint16) * a) // 255).astype(np.uint8)

    hdr_size = _u32(sub, 0)
    if hdr_size < 40:
        raise ValueError(f"unsupported ICO DIB header size {hdr_size}")
    width = _i32(sub, 4)
    height = abs(_i32(sub, 8)) // 2  # spec: biHeight covers XOR + AND mask
    bpp = _u16(sub, 14)
    compression = _u32(sub, 16)
    colors_used = _u32(sub, 32)
    if width <= 0 or height == 0:
        raise ValueError(f"invalid ICO DIB dimensions {width}x{height}")
    if compression != _BI_RGB:
        raise ValueError(f"unsupported ICO DIB compression {compression}")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported ICO DIB bit depth {bpp} (8/24/32)")

    pos = hdr_size
    if bpp == 8:
        n_colors = colors_used or 256
        pal = np.frombuffer(sub[pos : pos + 4 * n_colors], dtype=np.uint8)
        if pal.size < 4 * n_colors:
            raise ValueError("ICO palette truncated")
        pal = pal.reshape(n_colors, 4)
        pos += 4 * n_colors

    xor_stride = ((bpp * width + 31) // 32) * 4
    and_stride = ((width + 31) // 32) * 4
    xor_end = pos + xor_stride * height
    and_end = xor_end + and_stride * height
    if and_end > len(sub):
        raise ValueError("ICO pixel data out of bounds")
    rows = np.frombuffer(sub[pos:xor_end], dtype=np.uint8).reshape(
        height, xor_stride
    )[::-1]

    if bpp == 8:
        idx = rows[:, :width]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("ICO palette index out of range")
        rgb = pal[idx][..., [2, 1, 0]].astype(np.uint16)
        alpha = None
    else:
        n_bytes = bpp // 8
        px = rows[:, : width * n_bytes].reshape(height, width, n_bytes)
        rgb = px[..., [2, 1, 0]].astype(np.uint16)
        alpha = px[..., 3].astype(np.uint16) if bpp == 32 else None

    if alpha is not None and alpha.any():
        rgb = (rgb * alpha[..., None]) // 255
    else:
        # 1-bit AND mask: set bit = transparent → black
        mask_rows = np.frombuffer(sub[xor_end:and_end], dtype=np.uint8).reshape(
            height, and_stride
        )[::-1]
        bits = np.unpackbits(mask_rows, axis=1)[:, :width]
        rgb = rgb * (1 - bits[..., None])
    return rgb.astype(np.uint8)


def encode_ico(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → single-entry 32-bpp ICO (opaque alpha, empty
    AND mask). Deterministic fixture builder like encode_bmp."""
    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_ico wants (H, W, 3) uint8")
    h, w = img.shape[:2]
    if h > 256 or w > 256:
        raise ValueError("ICO entries cap at 256x256")

    u16, u32 = _p16, _p32

    px = np.zeros((h, w, 4), dtype=np.uint8)
    px[..., 0] = img[..., 2]
    px[..., 1] = img[..., 1]
    px[..., 2] = img[..., 0]
    px[..., 3] = 255
    xor = px[::-1].tobytes()
    and_stride = ((w + 31) // 32) * 4
    and_mask = bytes(and_stride * h)  # all opaque
    info = (
        u32(40) + u32(w) + u32(2 * h) + u16(1) + u16(32) + u32(_BI_RGB)
        + u32(len(xor) + len(and_mask)) + u32(0) + u32(0) + u32(0) + u32(0)
    )
    entry_data = info + xor + and_mask
    directory = (
        bytes((w % 256, h % 256, 0, 0)) + u16(1) + u16(32)
        + u32(len(entry_data)) + u32(6 + 16)
    )
    return ICO_MAGIC + u16(1) + directory + entry_data


def encode_bmp(img: np.ndarray, bpp: int = 24) -> bytes:
    """(H, W, 3) uint8 RGB → BMP bytes (bottom-up BI_RGB; 24 or 32 bpp).
    Deterministic — builds fixtures the same way encode_png does."""
    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_bmp wants (H, W, 3) uint8")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported bpp {bpp} (24 or 32)")
    h, w = img.shape[:2]
    n_bytes = bpp // 8
    stride = ((bpp * w + 31) // 32) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    px = rows[:, : w * n_bytes].reshape(h, w, n_bytes)
    px[..., 0] = img[..., 2]
    px[..., 1] = img[..., 1]
    px[..., 2] = img[..., 0]
    rows = rows[::-1]  # bottom-up

    u16, u32 = _p16, _p32

    payload = rows.tobytes()
    pixel_offset = 14 + 40
    info = (
        u32(40) + u32(w) + u32(h) + u16(1) + u16(bpp) + u32(_BI_RGB)
        + u32(len(payload)) + u32(2835) + u32(2835) + u32(0) + u32(0)
    )
    head = (
        BMP_MAGIC + u32(pixel_offset + len(payload)) + u16(0) + u16(0)
        + u32(pixel_offset)
    )
    return head + info + payload

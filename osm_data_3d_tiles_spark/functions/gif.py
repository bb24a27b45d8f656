"""From-scratch GIF (87a/89a) decoder + single-frame encoder, pure Python/numpy.

Public-spec implementation (W3C GIF89a specification): logical screen
descriptor, global/local color tables, LSB-first variable-width LZW with a
4096-entry dictionary, Adam-style 4-pass interlacing, and the 89a graphic
control extension (transparency index). `decode_gif` composites the FIRST
frame onto the logical screen (background color, transparent pixels left as
background) and returns (H, W, 3) uint8 RGB — the still-image contract the
multimodal stages want; `gif_frame_count` walks the block stream without
LZW-decoding to count frames cheaply.

The encoder emits a deterministic single-frame GIF89a (true LZW with dynamic
dictionary, 256-color palette built from the image) so test fixtures are
generated by the repo's own writer — the same pattern as encode_png /
encode_jpeg / encode_mvt.

Reference parity note: the reference repo decodes textures via image-library
calls; in-sandbox the codecs are from scratch (see functions/jpeg.py).
Malformed streams raise ValueError (never IndexError/KeyError) — lying block
sizes are part of the input contract for web-crawl payloads.
"""

from __future__ import annotations

import numpy as np

from ._binary import p16le as _p16
from ._binary import u16le as _u16

GIF_MAGICS = (b"GIF87a", b"GIF89a")


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes → first frame as (H, W, 3) uint8 RGB."""
    try:
        return _decode_first_frame(bytes(data))
    except (IndexError, KeyError) as exc:
        raise ValueError(f"malformed GIF stream: {type(exc).__name__}: {exc}") from exc


def gif_frame_count(data: bytes) -> int:
    """Number of image descriptors in the stream (animation frame count)."""
    try:
        data = bytes(data)
        _check_header(data)
        pos, _, _, _, gct_len = _screen(data)
        pos += gct_len
        count = 0
        while pos < len(data):
            b = data[pos]
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label + sub-blocks
                pos += 2
                pos = _skip_subblocks(data, pos)
            elif b == 0x2C:
                count += 1
                pos += 10
                packed = data[pos - 1]
                if packed & 0x80:
                    pos += 3 * (2 << (packed & 0x07))
                pos += 1  # LZW min code size
                pos = _skip_subblocks(data, pos)
            else:
                raise ValueError(f"unknown GIF block 0x{b:02x}")
        return count
    except (IndexError, KeyError) as exc:
        raise ValueError(f"malformed GIF stream: {type(exc).__name__}: {exc}") from exc


def _check_header(data: bytes) -> None:
    if len(data) < 13 or data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF stream (bad signature)")


def _screen(data: bytes):
    w, h = _u16(data, 6), _u16(data, 8)
    packed = data[10]
    bg = data[11]
    gct_len = 3 * (2 << (packed & 0x07)) if packed & 0x80 else 0
    return 13, w, h, bg, gct_len


def _skip_subblocks(data: bytes, pos: int) -> int:
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF (unterminated sub-blocks)")
        n = data[pos]
        pos += 1
        if n == 0:
            return pos
        pos += n


def _collect_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF (unterminated sub-blocks)")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        chunk = data[pos : pos + n]
        if len(chunk) < n:  # slice came up short: lying length
            raise ValueError("truncated GIF (sub-block shorter than declared)")
        out += chunk
        pos += n


def _lzw_decode(mcs: int, stream: bytes, n_pixels: int) -> np.ndarray:
    """LSB-first variable-width LZW per the GIF spec; 4096-entry dictionary."""
    if not (2 <= mcs <= 8):
        raise ValueError(f"bad LZW min code size {mcs}")
    clear = 1 << mcs
    end = clear + 1

    base = [bytes((i,)) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    out = bytearray()
    prev: bytes | None = None

    acc = 0
    nbits = 0
    pos = 0
    n = len(stream)
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated GIF (LZW stream ended early)")
            acc |= stream[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width

        if code == clear:
            table = list(base)
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table size {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1

    if len(out) < n_pixels:
        raise ValueError(
            f"GIF pixel data short: {len(out)} of {n_pixels} indices decoded"
        )
    return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx: np.ndarray, w: int, h: int) -> np.ndarray:
    rows = idx.reshape(h, w)
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        n_rows = len(range(start, h, step))
        out[start:h:step] = rows[src : src + n_rows]
        src += n_rows
    return out.reshape(-1)


def _decode_first_frame(data: bytes) -> np.ndarray:
    for _, screen in _iter_frames(data):
        return screen
    raise ValueError("GIF stream has no image frame")


def _iter_frames(data: bytes):
    """Yield (ts_ms, screen RGB uint8 copy) per animation frame, in order.

    Full GIF89a animation semantics: the graphic control extension's delay
    (centiseconds; 0 treated as the conventional 100 ms, as browsers render
    it) and disposal method (1/0 = leave, 2 = restore the frame rect to the
    background color, 3 = restore the previous canvas). Decoding is
    inherently sequential — each frame composites onto the previous canvas —
    so a caller wanting frame k pays for frames 0..k."""
    _check_header(data)
    pos, sw, sh, bg, gct_len = _screen(data)
    if sw < 1 or sh < 1:
        raise ValueError(f"bad logical screen {sw}x{sh}")
    gct = None
    if gct_len:
        gct = np.frombuffer(data[pos : pos + gct_len], dtype=np.uint8).reshape(-1, 3)
        if len(gct) * 3 < gct_len:
            raise ValueError("truncated global color table")
        pos += gct_len

    background = np.zeros(3, dtype=np.uint8)
    if gct is not None and bg < len(gct):
        background = gct[bg]
    screen = np.zeros((sh, sw, 3), dtype=np.uint8)
    screen[:] = background

    transparent = -1
    disposal = 0
    delay_cs = 0
    ts_ms = 0
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:
            break
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9:  # graphic control: delay/disposal/transparency
                block, pos = _collect_subblocks(data, pos)
                if len(block) >= 4:
                    disposal = (block[0] >> 2) & 0x07
                    delay_cs = block[1] | (block[2] << 8)
                    transparent = block[3] if (block[0] & 0x01) else -1
            else:
                pos = _skip_subblocks(data, pos)
        elif b == 0x2C:  # image descriptor — render one frame
            left, top = _u16(data, pos + 1), _u16(data, pos + 3)
            fw, fh = _u16(data, pos + 5), _u16(data, pos + 7)
            packed = data[pos + 9]
            pos += 10
            interlaced = bool(packed & 0x40)
            table = gct
            if packed & 0x80:
                lct_len = 3 * (2 << (packed & 0x07))
                table = np.frombuffer(
                    data[pos : pos + lct_len], dtype=np.uint8
                ).reshape(-1, 3)
                if len(table) * 3 < lct_len:
                    raise ValueError("truncated local color table")
                pos += lct_len
            if table is None:
                raise ValueError("GIF frame has no color table")
            if fw < 1 or fh < 1 or left + fw > sw or top + fh > sh:
                raise ValueError("GIF frame rectangle outside logical screen")
            mcs = data[pos]
            pos += 1
            stream, pos = _collect_subblocks(data, pos)
            idx = _lzw_decode(mcs, stream, fw * fh)
            if interlaced:
                idx = _deinterlace(idx, fw, fh)
            if int(idx.max(initial=0)) >= len(table):
                raise ValueError("GIF pixel index beyond color table")

            prev = screen.copy() if disposal == 3 else None
            frame = table[idx].reshape(fh, fw, 3)
            region = screen[top : top + fh, left : left + fw]
            if transparent >= 0:
                mask = idx.reshape(fh, fw) != transparent
                region[mask] = frame[mask]
            else:
                region[:] = frame
            yield ts_ms, screen.copy()
            ts_ms += (delay_cs or 10) * 10  # 0-delay → 100 ms convention

            if disposal == 2:
                screen[top : top + fh, left : left + fw] = background
            elif disposal == 3:
                screen = prev
            transparent = -1
            disposal = 0
            delay_cs = 0
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")


def decode_gif_frames(data: bytes, max_frames: int | None = None) -> dict:
    """GIF bytes → {"width", "height", "n_frames", "frames": [(ts_ms, rgb)]}
    with full animation compositing (delays, disposal 2/3, transparency).
    Frame timestamps are cumulative delays, a 0 delay counting as 100 ms.
    max_frames stops the sequential decode early."""
    try:
        frames = []
        for ts, img in _iter_frames(bytes(data)):
            frames.append((ts, img))
            if max_frames is not None and len(frames) >= max_frames:
                break
        if not frames:
            raise ValueError("GIF stream has no image frame")
        h, w = frames[0][1].shape[:2]
        return {"width": w, "height": h, "n_frames": len(frames), "frames": frames}
    except (IndexError, KeyError) as exc:
        raise ValueError(f"malformed GIF stream: {type(exc).__name__}: {exc}") from exc


def _lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """True dynamic-dictionary LZW, LSB-first packing (spec appendix F)."""
    clear = 1 << mcs
    end = clear + 1
    codes: list[int] = []

    table: dict[bytes, int] = {bytes((i,)): i for i in range(clear)}
    next_code = end + 1
    width = mcs + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int) -> None:
        nonlocal acc, nbits, width, next_code
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    run = b""
    for v in indices.tolist():
        cand = run + bytes((v,))
        if cand in table:
            run = cand
            continue
        put(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            put(clear)
            table = {bytes((i,)): i for i in range(clear)}
            next_code = end + 1
            width = mcs + 1
        run = bytes((v,))
    if run:
        put(table[run])
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif_animated(
    frames: list[np.ndarray],
    delays_ms: list[int] | int = 100,
    offsets: list[tuple[int, int]] | None = None,
    disposals: list[int] | None = None,
    transparent_rgb: tuple[int, int, int] | None = None,
) -> bytes:
    """List of (h_k, w_k, 3) uint8 frames → animated GIF89a. Frame 0 defines
    the logical screen; later frames may be smaller rects placed at
    `offsets[k]` (left, top). Per-frame GCE carries `delays_ms[k]` and
    `disposals[k]` (0/1 leave, 2 restore-background, 3 restore-previous);
    pixels equal to `transparent_rgb` get the transparency index. One global
    palette over all frames (≤ 255 distinct colors with transparency, ≤ 256
    without) — deterministic fixture generator, not a quantizer."""
    if not frames:
        raise ValueError("need at least one frame")
    frames = [np.asarray(f) for f in frames]
    for f in frames:
        if f.dtype != np.uint8 or f.ndim != 3 or f.shape[2] != 3:
            raise ValueError("encode_gif_animated wants (h,w,3) uint8 frames")
    sh, sw = frames[0].shape[:2]
    n = len(frames)
    if isinstance(delays_ms, int):
        delays_ms = [delays_ms] * n
    offsets = offsets or [(0, 0)] * n
    disposals = disposals or [0] * n
    if not (len(delays_ms) == len(offsets) == len(disposals) == n):
        raise ValueError("per-frame lists must match the frame count")

    all_px = np.concatenate([f.reshape(-1, 3) for f in frames])
    palette = np.unique(all_px, axis=0)
    transparent = -1
    if transparent_rgb is not None:
        t = np.array(transparent_rgb, dtype=np.uint8)
        keep = ~(palette == t).all(axis=1)
        palette = palette[keep]
        transparent = len(palette)  # transparency slot appended after colors
        if len(palette) > 255:
            raise ValueError(f"{len(palette)} colors + transparency > 256")
        palette = np.concatenate([palette, t[None, :]])
    elif len(palette) > 256:
        raise ValueError(f"{len(palette)} distinct colors > 256 (no quantizer)")

    size_field = max(1, int(np.ceil(np.log2(max(len(palette), 2)))))
    n_slots = 1 << size_field
    table = np.zeros((n_slots, 3), dtype=np.uint8)
    table[: len(palette)] = palette
    lut = {tuple(c): i for i, c in enumerate(palette)}
    mcs = max(2, size_field)

    u16 = _p16

    out = bytearray(b"GIF89a")
    out += u16(sw) + u16(sh)
    out += bytes((0x80 | (size_field - 1), 0, 0))
    out += table.tobytes()
    for f, delay, (left, top), disposal in zip(frames, delays_ms, offsets, disposals):
        fh, fw = f.shape[:2]
        if left + fw > sw or top + fh > sh:
            raise ValueError("frame rect outside the logical screen")
        cs = max(0, int(round(delay / 10)))
        flags = (disposal & 0x07) << 2
        if transparent >= 0:
            flags |= 0x01
        out += bytes((0x21, 0xF9, 4, flags, cs & 0xFF, (cs >> 8) & 0xFF,
                      transparent if transparent >= 0 else 0, 0))
        idx = np.array(
            [lut[tuple(px)] for px in f.reshape(-1, 3)], dtype=np.uint8
        )
        out += b"\x2c" + u16(left) + u16(top) + u16(fw) + u16(fh) + b"\x00"
        out += bytes((mcs,))
        lzw = _lzw_encode(idx, mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes((len(chunk),)) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def encode_gif(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → single-frame GIF89a with an exact palette.

    Deterministic; requires ≤ 256 distinct colors (fixture generator, not a
    general quantizer — mirroring encode_jpeg's scope)."""
    img = np.asarray(img)
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_gif wants (H,W,3) uint8")
    h, w = img.shape[:2]
    if not (1 <= w <= 0xFFFF and 1 <= h <= 0xFFFF):
        raise ValueError("image dimensions must fit 16 bits")

    flat = img.reshape(-1, 3)
    palette, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"{len(palette)} distinct colors > 256 (no quantizer)")
    # palette size must be a power of two ≥ 2 per the size-field encoding
    size_field = max(1, int(np.ceil(np.log2(max(len(palette), 2)))))
    n_slots = 1 << size_field
    table = np.zeros((n_slots, 3), dtype=np.uint8)
    table[: len(palette)] = palette

    mcs = max(2, size_field)
    lzw = _lzw_encode(idx.astype(np.uint8), mcs)

    u16 = _p16

    out = bytearray(b"GIF89a")
    out += u16(w) + u16(h)
    out += bytes((0x80 | (size_field - 1), 0, 0))  # GCT flag+size, bg=0, aspect
    out += table.tobytes()
    out += b"\x2c" + u16(0) + u16(0) + u16(w) + u16(h) + b"\x00"
    out += bytes((mcs,))
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes((len(chunk),)) + chunk
    out += b"\x00\x3b"
    return bytes(out)

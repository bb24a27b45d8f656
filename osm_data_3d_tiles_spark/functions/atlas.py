"""Texture-atlas constants + UV transform — pure broadcastable metadata.

Parity sources (/root/reference/):
- src/building/roof/textures.ts        (ExtrudedTextures id enum)
- src/textures/building_textures.ts:305-340  (getTileUVTransform: atlas 2580,
  tile 512, padding 2, 5 cols, 2px anti-bleed shrink)
- src/textures/helper.ts:1-4 + assets/textures/packed/diffuse.json  (getImageFrame:
  textureId -> packed-frame pixel origin; the packer output is committed in the
  reference's assets, so the frame coordinates are fixed constants reproduced here)
"""

from __future__ import annotations

import math

# src/building/roof/textures.ts (active entries only)
class ExtrudedTextures:
    RoofGeneric3 = 0
    RoofTiles = 1
    RoofMetal = 2
    RoofConcrete = 3
    RoofThatch = 4
    RoofEternit = 5
    RoofGrass = 6
    RoofGlass = 7
    RoofTar = 8
    FacadeGlass = 9
    FacadeBrickWall = 10
    FacadePlasterWall = 11
    FacadeWoodWall = 12
    FacadeBlockWall = 13


# textureId -> diffuse frame pixel origin (x, y) in the packed atlas
# (assets/textures/packed/diffuse.json, indexed via buildingTextures[4*id].url).
FRAME_XY: dict[int, tuple[int, int]] = {
    0: (518, 2),     # Plastic018A (roofGeneric3)
    1: (1034, 518),  # tiles
    2: (518, 1034),  # metal
    3: (1034, 2),    # concrete
    4: (518, 2066),  # thatch
    5: (1550, 2),    # eternit
    6: (518, 518),   # grass
    7: (2066, 2),    # glass roof
    8: (518, 1550),  # tar
    9: (2, 1034),    # facade glass
    10: (2, 518),    # brick wall
    11: (2, 1550),   # plaster wall
    12: (2, 2066),   # wood wall
    13: (2, 2),      # block wall
}


# getTileUVTransform's layout: atlas and tile edge in pixels, padding
# around each tile, tiles per row
ATLAS_SIZE = 2580
TILE_SIZE = 512
PADDING = 2
COLS = 5


def tile_uv_transform(x: float, y: float) -> tuple[float, float, float, float]:
    """(offset_x, offset_y, scale_x, scale_y) — building_textures.ts:305-340."""
    cell = TILE_SIZE + PADDING * 2
    col = math.floor(x / TILE_SIZE)
    row = (COLS - 1) - math.floor(y / TILE_SIZE)
    px = PADDING + col * cell
    py = PADDING + row * cell
    u_offset = px / ATLAS_SIZE
    v_offset = py / ATLAS_SIZE
    u_scale = TILE_SIZE / ATLAS_SIZE
    v_scale = TILE_SIZE / ATLAS_SIZE
    eps = 2 / ATLAS_SIZE
    return (u_offset + eps, v_offset + eps, u_scale - 2 * eps, v_scale - 2 * eps)


def atlas_transform_for_texture(texture_id: int) -> tuple[float, float, float, float]:
    """getImageFrame + getTileUVTransform composed for one texture id."""
    fx, fy = FRAME_XY[int(texture_id)]
    return tile_uv_transform(fx, fy)


# builder.ts:248-268 — roof material -> texture id and per-texture UV scale
ROOF_MATERIAL_TO_TEXTURE = {
    "default": ExtrudedTextures.RoofConcrete,
    "tiles": ExtrudedTextures.RoofTiles,
    "metal": ExtrudedTextures.RoofMetal,
    "concrete": ExtrudedTextures.RoofConcrete,
    "thatch": ExtrudedTextures.RoofThatch,
    "eternit": ExtrudedTextures.RoofEternit,
    "grass": ExtrudedTextures.RoofGrass,
    "glass": ExtrudedTextures.RoofGlass,
    "tar": ExtrudedTextures.RoofTar,
}

ROOF_TEXTURE_SCALE = {
    ExtrudedTextures.RoofTiles: (3.0, 3.0),
    ExtrudedTextures.RoofMetal: (4.0, 4.0),
    ExtrudedTextures.RoofConcrete: (10.0, 10.0),
    ExtrudedTextures.RoofThatch: (8.0, 8.0),
    ExtrudedTextures.RoofEternit: (5.0, 5.0),
    ExtrudedTextures.RoofGrass: (12.0, 12.0),
    ExtrudedTextures.RoofGlass: (4.0, 4.0),
    ExtrudedTextures.RoofTar: (4.0, 4.0),
}

# builder.ts:311-343 — facade material -> wall texture id + window width (pre
# mercatorScale); windows are disabled in the reference (hasWindows=false,
# textureIdWindow == textureIdWall).
FACADE_MATERIAL_TO_TEXTURE = {
    "plaster": (ExtrudedTextures.FacadePlasterWall, 4.0),
    "glass": (ExtrudedTextures.FacadeGlass, 4.0),
    "brick": (ExtrudedTextures.FacadeBrickWall, 4.0),
    "wood": (ExtrudedTextures.FacadeWoodWall, 4.0),
    "cementBlock": (ExtrudedTextures.FacadeBlockWall, 4.0),
}

MERCATOR_SCALE = 1.52122668  # builder.ts:26


# ---------------------------------------------------------------------------
# atlas image artifact — a real PNG, written with stdlib zlib only.
#
# The reference ships pre-packed 2580² atlases (free-tex-packer output committed
# under assets/textures/packed/). The source textures are not redistributable
# here, so the engine renders a deterministic PROCEDURAL texture per frame —
# the frame layout, padding and UV transforms are the real, verified artifact;
# swapping procedural fills for decoded source images is a one-function change
# (the `_frame_pattern` hook).
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(rgba) -> bytes:
    """HxWx4 uint8 array → valid RGBA PNG bytes (bit depth 8, filter 0
    scanlines) — the single PNG container writer (write_png and the media
    fixtures both ride this, so the bitstream layout lives in one place)."""
    import struct
    import zlib

    import numpy as np

    arr = np.ascontiguousarray(rgba, dtype=np.uint8)
    h, w = arr.shape[:2]
    raw = b"".join(b"\x00" + arr[i].tobytes() for i in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def write_png(path: str, rgba) -> None:
    """HxWx4 uint8 array → RGBA PNG file (see encode_png)."""
    with open(path, "wb") as f:
        f.write(encode_png(rgba))


def _frame_pattern(texture_id: int, h: int, w: int):
    """Deterministic procedural fill for one frame: id-seeded base color with an
    id-dependent stripe/checker modulation (visually distinct, reproducible)."""
    import numpy as np

    seed = (texture_id * 2654435761) & 0xFFFFFFFF
    r, g, b = 64 + seed % 160, 64 + (seed >> 8) % 160, 64 + (seed >> 16) % 160
    yy, xx = np.mgrid[0:h, 0:w]
    period = 16 + (texture_id % 4) * 16
    if texture_id % 2:
        mod = ((xx // period + yy // period) % 2) * 24
    else:
        mod = ((xx + yy) // period % 2) * 24
    out = np.empty((h, w, 4), dtype=np.uint8)
    out[..., 0] = np.clip(r + mod, 0, 255)
    out[..., 1] = np.clip(g + mod, 0, 255)
    out[..., 2] = np.clip(b + mod, 0, 255)
    out[..., 3] = 255
    return out


def render_atlas():
    """All FRAME_XY frames rendered into one RGBA atlas array (background
    transparent black, frames at their packed pixel origins)."""
    import numpy as np

    img = np.zeros((ATLAS_SIZE, ATLAS_SIZE, 4), dtype=np.uint8)
    for tid, (fx, fy) in FRAME_XY.items():
        img[fy : fy + TILE_SIZE, fx : fx + TILE_SIZE] = _frame_pattern(
            tid, TILE_SIZE, TILE_SIZE
        )
    return img


def write_atlas_png(path: str) -> str:
    """Render + write the packed diffuse atlas PNG; returns the path."""
    write_png(path, render_atlas())
    return path


# ---------------------------------------------------------------------------
# real bin-packing — MaxRects BestShortSideFit, parity with the reference's
# free-tex-packer run.
#
# The committed atlas metadata (/root/reference/assets/textures/packed/
# diffuse.json, meta: free-tex-packer-core 0.3.4, 2580x2580) is the output of
# packAsync({width: 3048, height: 3048, extrude: 2}) over the 14 diffuse
# tiles (building_textures.ts:234-254). free-tex-packer's default packer is
# Jylanki's MaxRectsBin with BestShortSideFit; re-implementing that heuristic
# (canonical SplitFreeNode push order: top, bottom, left, right; first free
# rect wins ties) over the 14 tiles in sorted-path order reproduces every
# committed frame position exactly — pinned by tests/test_tileset.py.
# ---------------------------------------------------------------------------


def maxrects_pack(
    items: list[tuple[str, int, int]],
    bin_w: int = 3048,
    bin_h: int = 3048,
    extrude: int = 2,
) -> tuple[dict[str, tuple[int, int, int, int]], int, int]:
    """MaxRects-BSSF packing of (name, w, h) items (placed in list order).

    Each item occupies (w + 2*extrude, h + 2*extrude) in the bin; the returned
    frame excludes the extrusion border: name -> (x, y, w, h) with x, y =
    content origin (bin origin + extrude), matching free-tex-packer's JSON.
    Also returns the used extent (atlas_w, atlas_h) — free-tex-packer shrinks
    the output image to it (2580 for the reference set).
    """
    free: list[tuple[int, int, int, int]] = [(0, 0, bin_w, bin_h)]
    frames: dict[str, tuple[int, int, int, int]] = {}
    used_w = used_h = 0

    for name, w, h in items:
        rw, rh = w + 2 * extrude, h + 2 * extrude
        best = None
        best_short = best_long = None
        for fx, fy, fw, fh in free:
            if fw < rw or fh < rh:
                continue
            short = min(fw - rw, fh - rh)
            long_ = max(fw - rw, fh - rh)
            if best is None or short < best_short or (
                short == best_short and long_ < best_long
            ):
                best, best_short, best_long = (fx, fy), short, long_
        if best is None:
            raise ValueError(f"maxrects_pack: {name} ({rw}x{rh}) does not fit")
        ux, uy = best
        used = (ux, uy, rw, rh)

        # split every overlapping free rect (Jylanki SplitFreeNode order:
        # top, bottom, left, right), then prune contained rects
        nxt: list[tuple[int, int, int, int]] = []
        for fx, fy, fw, fh in free:
            if ux >= fx + fw or ux + rw <= fx or uy >= fy + fh or uy + rh <= fy:
                nxt.append((fx, fy, fw, fh))
                continue
            if uy > fy:
                nxt.append((fx, fy, fw, uy - fy))
            if uy + rh < fy + fh:
                nxt.append((fx, uy + rh, fw, fy + fh - (uy + rh)))
            if ux > fx:
                nxt.append((fx, fy, ux - fx, fh))
            if ux + rw < fx + fw:
                nxt.append((ux + rw, fy, fx + fw - (ux + rw), fh))
        pruned: list[tuple[int, int, int, int]] = []
        for i, a in enumerate(nxt):
            contained = any(
                j != i
                and b[0] <= a[0]
                and b[1] <= a[1]
                and b[0] + b[2] >= a[0] + a[2]
                and b[1] + b[3] >= a[1] + a[3]
                and not (j > i and a == b)  # keep the first of exact dupes
                for j, b in enumerate(nxt)
            )
            if not contained:
                pruned.append(a)
        free = pruned

        frames[name] = (ux + extrude, uy + extrude, w, h)
        used_w = max(used_w, ux + rw)
        used_h = max(used_h, uy + rh)
    return frames, used_w, used_h


# the 14 diffuse source tiles (building_textures.ts buildingTextures[i*4],
# i = 0..13), in the packer's sorted-path order
DIFFUSE_TILE_PATHS = [
    "assets/textures/buildings/facades/block_wall_diffuse.png",
    "assets/textures/buildings/facades/brick_wall_diffuse.png",
    "assets/textures/buildings/facades/glass_diffuse.png",
    "assets/textures/buildings/facades/plastered_wall_02_diff_1k.jpg",
    "assets/textures/buildings/facades/wood_wall_diffuse.png",
    "assets/textures/buildings/roofs/Plastic018A_1K-JPG_Color.jpg",
    "assets/textures/buildings/roofs/concrete_diffuse.png",
    "assets/textures/buildings/roofs/eternit_diffuse.png",
    "assets/textures/buildings/roofs/glass_diffuse.png",
    "assets/textures/buildings/roofs/grass_diffuse.png",
    "assets/textures/buildings/roofs/metal_diffuse.png",
    "assets/textures/buildings/roofs/tar_diffuse.png",
    "assets/textures/buildings/roofs/thatch_diffuse.png",
    "assets/textures/buildings/roofs/tiles_diffuse.png",
]

# texture id -> packed source path (buildingTextures index i*4 holds id i's
# diffuse; building_textures.ts:100-208)
TEXTURE_ID_TO_PATH = {
    0: "assets/textures/buildings/roofs/Plastic018A_1K-JPG_Color.jpg",
    1: "assets/textures/buildings/roofs/tiles_diffuse.png",
    2: "assets/textures/buildings/roofs/metal_diffuse.png",
    3: "assets/textures/buildings/roofs/concrete_diffuse.png",
    4: "assets/textures/buildings/roofs/thatch_diffuse.png",
    5: "assets/textures/buildings/roofs/eternit_diffuse.png",
    6: "assets/textures/buildings/roofs/grass_diffuse.png",
    7: "assets/textures/buildings/roofs/glass_diffuse.png",
    8: "assets/textures/buildings/roofs/tar_diffuse.png",
    9: "assets/textures/buildings/facades/glass_diffuse.png",
    10: "assets/textures/buildings/facades/brick_wall_diffuse.png",
    11: "assets/textures/buildings/facades/plastered_wall_02_diff_1k.jpg",
    12: "assets/textures/buildings/facades/wood_wall_diffuse.png",
    13: "assets/textures/buildings/facades/block_wall_diffuse.png",
}


def pack_building_textures(tile_size: int = 512):
    """Run the real packer over the building texture set; returns
    ({path: (x, y, w, h)}, atlas_w, atlas_h). Output frame positions equal
    the reference's committed diffuse.json (pinned in tests)."""
    items = [(p, tile_size, tile_size) for p in DIFFUSE_TILE_PATHS]
    return maxrects_pack(items)


def decode_png(data: bytes):
    """RGBA8 PNG bytes → (h, w, 4) uint8: the inverse of `encode_png`.
    Non-interlaced, bit depth 8, color type 6; scanline filters 0-4 (our
    encoder emits 0, foreign PNGs may use any)."""
    import struct
    import zlib

    import numpy as np

    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos = 8
    idat = b""
    w = h = None
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            if len(body) < 13:
                raise ValueError(f"decode_png: truncated IHDR ({len(body)} bytes)")
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            interlace = body[12]
            if depth != 8 or ctype != 6:
                raise ValueError(f"decode_png: only RGBA8 supported, got {depth}/{ctype}")
            if interlace != 0:
                # Adam7 IDAT is 7 per-pass sub-images; the linear row loop
                # below would silently decode garbage — refuse instead
                raise ValueError("decode_png: interlaced (Adam7) PNGs unsupported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 4
    img = np.empty((h, w, 4), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    off = 0
    for y in range(h):
        ftype = raw[off]
        line = np.frombuffer(raw[off + 1 : off + 1 + stride], dtype=np.uint8).astype(np.int32)
        off += 1 + stride
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up — fully vectorized
            cur = (line + prev) & 0xFF
        elif ftype == 1:  # Sub — cumulative sum per byte lane (mod 256)
            lanes = line.reshape(w, 4)
            cur = (np.cumsum(lanes, axis=0, dtype=np.int64) & 0xFF).reshape(stride)
        elif ftype in (3, 4):  # Average / Paeth: left-dependency -> loop over
            # PIXELS (w iterations, all 4 channels vectorized per step) — not
            # over bytes; a per-byte Python loop was ~4x slower and real-world
            # encoders emit these filters on nearly every row
            lanes = line.reshape(w, 4)
            prev_l = prev.reshape(w, 4)
            cur_l = np.zeros((w, 4), dtype=np.int32)
            left = np.zeros(4, dtype=np.int32)
            if ftype == 3:
                for x in range(w):
                    left = (lanes[x] + (left + prev_l[x]) // 2) & 0xFF
                    cur_l[x] = left
            else:
                up_left = np.zeros(4, dtype=np.int32)
                for x in range(w):
                    b_ = prev_l[x]
                    p = left + b_ - up_left
                    pa = np.abs(p - left)
                    pb = np.abs(p - b_)
                    pc = np.abs(p - up_left)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, b_, up_left)
                    )
                    left = (lanes[x] + pred) & 0xFF
                    cur_l[x] = left
                    up_left = b_
            cur = cur_l.reshape(stride)
        else:
            raise ValueError(f"decode_png: invalid scanline filter type {ftype}")
        img[y] = cur.astype(np.uint8).reshape(w, 4)
        prev = cur
    return img

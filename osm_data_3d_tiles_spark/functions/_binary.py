"""Shared little-endian byte helpers for the from-scratch codec modules.

WebP (a RIFF container) and the BMP/GIF/ICO image formats read and write
the same 2/3/4-byte little-endian fields; keeping one definition means a
bounds-check or overflow fix propagates to every codec.
(TIFF keeps its own closures — it is endianness-parameterized per file.)
"""

from __future__ import annotations


def u16le(b: bytes, o: int = 0) -> int:
    return b[o] | (b[o + 1] << 8)


def u24le(b: bytes, o: int = 0) -> int:
    return b[o] | (b[o + 1] << 8) | (b[o + 2] << 16)


def u32le(b: bytes, o: int = 0) -> int:
    return b[o] | (b[o + 1] << 8) | (b[o + 2] << 16) | (b[o + 3] << 24)


def p16le(v: int) -> bytes:
    return bytes((v & 0xFF, (v >> 8) & 0xFF))


def p32le(v: int) -> bytes:
    return bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF, (v >> 24) & 0xFF))

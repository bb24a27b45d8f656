"""Morton (z-order) key: 2-D bit interleave as a shared-SQL expression.

The third space-filling curve in the engine next to the hex lattice
(functions/hexgrid.py) and S2 Hilbert (functions/s2.py) — the one most table
formats implement natively (Iceberg/Delta Z-ORDER clustering). A Morton key
over quantized (x, y) can serve as the cell column of
sinks/layout.py::write_clustered: range-scanning a z-ordered layout touches
O(perimeter) extra cells vs Hilbert's tighter locality, in exchange for an
encode that is pure shifts and masks — exact integers end to end, so the
oracle is the IDENTICAL expression text (no float, no libm, nothing
engine-specific).

Magic-number spreading (the classic "interleave by binary magic numbers"
from the Stanford bit-twiddling hacks page): each of 5 rounds doubles the
gap between payload bits. Inputs MUST be non-negative 31-bit ints so the
interleaved result (62 bits) stays positive in a signed BIGINT in both
engines. `morton_sql` does not check that (it must stay valid DuckDB), so
callers quantize inputs into range by construction.
"""

from __future__ import annotations

_MASKS = (
    (16, 281470681808895),     # 0x0000FFFF0000FFFF
    (8, 71777214294589695),    # 0x00FF00FF00FF00FF
    (4, 1085102592571150095),  # 0x0F0F0F0F0F0F0F0F
    (2, 3689348814741910323),  # 0x3333333333333333
    (1, 6148914691236517205),  # 0x5555555555555555
)


def spread_sql(v: str) -> str:
    """SQL fragment spreading the low 31 bits of `v` onto even bit
    positions (b_i -> bit 2i). Valid verbatim in Spark SQL and DuckDB."""
    expr = f"CAST({v} AS BIGINT)"
    for shift, mask in _MASKS:
        expr = f"(({expr} | ({expr} << {shift})) & {mask})"
    return expr


def morton_sql(x: str, y: str) -> str:
    """SQL fragment: 62-bit Morton key of two non-negative <=31-bit ints
    (x on even bits, y on odd). Shared verbatim with the DuckDB oracle."""
    return f"({spread_sql(x)} | ({spread_sql(y)} << 1))"


def morton_decode(key: int) -> tuple[int, int]:
    """Driver-side inverse (tests and range planning): (x, y) of a key.
    Plain bit-gather — clarity over cleverness off the hot path."""
    x = y = 0
    for i in range(31):
        x |= ((key >> (2 * i)) & 1) << i
        y |= ((key >> (2 * i + 1)) & 1) << i
    return x, y

"""Cell tiling kernels: hex (H3-style, res 7-9) and square/quadkey cells.

The NumPy kernels are batched inside Arrow ``pandas_udf``s — no per-row
Python (BASELINE.json input_hint); the pipeline's hex cells come from
``hex_cell_expr``, a Catalyst expression. The hex assignment is the engine's
equivalent of the reference's point→pixel equi-join key computation
(``get_coords_at_point``, Archived_scripts/utils.py:47-67): cell id becomes
the hash-equi-join key for every downstream spatial join.

Hex scheme: centers on the integer triangular lattice
``{(i*w, j*h) : (i+j) even}`` with ``h ≈ w*sqrt(3)`` (so Voronoi cells are
hexagons); a point belongs to the nearest center by integer squared distance,
ties broken by (i, j). Pure int64 math ⇒ bit-identical in Spark, NumPy and
the DuckDB oracle. Resolutions 7/8/9 shrink pitch by ~sqrt(7) per step
(aperture-7, H3-style).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..geo_synth import (HEX_I_SHIFT, HEX_PITCH, HEX_RES_SHIFT, XRES,
                         hex_cell_id_sql_encode)

_OFFSETS = np.array([(di, dj) for di in (-1, 0, 1, 2) for dj in (-1, 0, 1, 2)],
                    dtype=np.int64)


def hex_assign_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Vectorized nearest-even-lattice-center search → encoded cell id."""
    w, h = HEX_PITCH[res]
    x = x.astype(np.int64)
    y = y.astype(np.int64)
    i0 = x // w
    j0 = y // h
    # candidates: (n, 16)
    ci = i0[:, None] + _OFFSETS[:, 0][None, :]
    cj = j0[:, None] + _OFFSETS[:, 1][None, :]
    dx = x[:, None] - ci * w
    dy = y[:, None] - cj * h
    d2 = dx * dx + dy * dy
    # lexicographic (d2, i, j) argmin in one int64 key; d2 < 2^26 at res 7,
    # i, j < 2^16 for our extent, so d2*(2^32) dominates i*(2^16)+j strictly.
    key = d2 * (1 << 32) + ci * (1 << 16) + cj
    key = np.where((ci + cj) % 2 == 0, key, np.int64(1) << 62)
    best = np.argmin(key, axis=1)
    rows = np.arange(len(x))
    bi = ci[rows, best]
    bj = cj[rows, best]
    return (np.int64(res) << HEX_RES_SHIFT) + (bi << HEX_I_SHIFT) + bj


def hex_cell_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id → (res, i, j)."""
    cell = cell.astype(np.int64)
    res = cell >> HEX_RES_SHIFT
    i = (cell >> HEX_I_SHIFT) & ((1 << HEX_I_SHIFT) - 1)
    j = cell & ((1 << HEX_I_SHIFT) - 1)
    return res, i, j


def hex_cell_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    res, i, j = hex_cell_decode(np.asarray(cell, dtype=np.int64))
    w = np.empty_like(i)
    h = np.empty_like(j)
    for r, (pw, ph) in HEX_PITCH.items():
        m = res == r
        w[m] = pw
        h[m] = ph
    return i * w, j * h


def hex_cell_udf(res: int):
    """pandas_udf (x:long, y:long) -> cell:long."""
    @F.pandas_udf(LongType())
    def _udf(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(hex_assign_np(x.to_numpy(), y.to_numpy(), res))
    return _udf


def hex_cell_expr(res: int, x_col: str = "x", y_col: str = "y"):
    """The SAME hex assignment as a pure Catalyst expression: it stays
    inside whole-stage codegen with no Arrow transfer (measured: the Arrow
    round-trip, not the compute, capped the hex rollup's scaling at 38M
    rows), and it is small, so analysis and every AQE re-plan stay cheap.

    The centres ``{(i*w, j*h) : i+j even}`` are the union of two
    rectangular sub-lattices, A = (even i, even j) and B = (odd i, odd j).
    In a rectangular lattice the squared distance splits into an x term
    and a y term, so the nearest point is the nearest index per axis, ties
    to the lower index: ``i = 2*floor((x + w - 1) / 2w)`` in A and
    ``i = 2*floor((x - 1) / 2w) + 1`` in B (the same for ``j`` with
    ``h``). Its offset ``x - i*w`` is then ``pmod(x + w - 1, 2w) - (w-1)``
    in A and ``pmod(x - 1, 2w) - (w-1)`` in B; ``pmod`` floors, so negative
    frames match numpy ``//`` too. The nearest centre is the nearer of the
    two winners; on equal distance the lower ``i`` (the larger offset)
    wins, and ``i`` is even in A and odd in B, so they never tie. That is
    the ``(d2, i, j)`` lexicographic rule of ``hex_assign_np`` and the
    DuckDB oracle, and both winners lie in their 16-candidate window, so
    all three agree bit for bit. Pure int64 arithmetic.
    """
    w, h = HEX_PITCH[res]

    def offsets(c: str, p: int) -> tuple[str, str]:
        return (f"(pmod(({c}) + {p - 1}L, {2 * p}L) - {p - 1}L)",
                f"(pmod(({c}) - 1L, {2 * p}L) - {p - 1}L)")

    (dxa, dxb), (dya, dyb) = offsets(x_col, w), offsets(y_col, h)
    da = f"({dxa} * {dxa} + {dya} * {dya})"
    db = f"({dxb} * {dxb} + {dyb} * {dyb})"

    def enc(dx: str, dy: str) -> str:   # exact divisions: x - dx = i*w
        return hex_cell_id_sql_encode(res, f"(({x_col}) - {dx}) DIV {w}L",
                                      f"(({y_col}) - {dy}) DIV {h}L")

    return F.expr(f"CASE WHEN {da} < {db} OR ({da} = {db} AND {dxa} > {dxb})"
                  f" THEN {enc(dxa, dya)} ELSE {enc(dxb, dyb)} END")


# --------------------------------------------------------------------------
# square cells (quadkey-style; the S2-flavored equi-join key for the oracle
# path — real spherical S2 lives in functions/s2.py)
# --------------------------------------------------------------------------

def square_cell_np(x: np.ndarray, y: np.ndarray, size_m: int) -> np.ndarray:
    x = x.astype(np.int64)
    y = y.astype(np.int64)
    return (y // size_m) * (1 << 32) + (x // size_m)


def square_cell_sql(x_expr: str, y_expr: str, size_m: int, dialect: str) -> str:
    div = "DIV" if dialect == "spark" else "//"
    return (f"((({y_expr}) {div} {size_m}) * 4294967296 "
            f"+ (({x_expr}) {div} {size_m}))")


def square_cell_udf(size_m: int):
    @F.pandas_udf(LongType())
    def _udf(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(square_cell_np(x.to_numpy(), y.to_numpy(), size_m))
    return _udf


# --------------------------------------------------------------------------
# raster pixel assignment (the reference's affine-inverse join key, J1/J3)
# --------------------------------------------------------------------------

def pixel_floor_np(v: np.ndarray) -> np.ndarray:
    """Truncation assignment (Archived_scripts/utils.py:47-67 semantics;
    == floor in our positive frame)."""
    return v.astype(np.int64) // XRES


def pixel_nearest_np(v: np.ndarray) -> np.ndarray:
    """'nearest' rounding (srg-dev/calculate_focal_mean.py:90 semantics),
    exact integer half-up: floor((2v + XRES) / (2*XRES))."""
    return (v.astype(np.int64) * 2 + XRES) // (2 * XRES)

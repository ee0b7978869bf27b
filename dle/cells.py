"""Hierarchical quadkey cell index — the engine's spatial partition key.

This is the Spark-native analogue of the reference's BCGS tile grid
(/root/reference/sql/create_tiles.sql:21-90) and of its
``map_tile LIKE 'prefix%'`` pruning (/root/reference/sql/
insert_difference.sql:27): a quadkey string of depth ``d`` identifies a
``GRID_SIZE / 2^d`` square; the first ``k`` characters identify the
depth-``k`` ancestor, so prefix filters prune exactly like the
reference's hierarchical tile names, and parquet min/max column stats
prune files when data is written sorted/partitioned by ``cell``.

Three synchronized implementations:
  * scalar Python (`point_cell`, `cover`) — driver-side planning/tests
  * vectorized numpy (`point_cell_np`) — inside pandas UDFs
  * SQL expression emitters (`sql_point_cell`, `sql_cover_xy`, …)
    parameterized by dialect ("spark" | "duckdb") so the DuckDB oracle
    computes the IDENTICAL cell assignment the engine computes
    (north-rule "tile assignments match").

`cover` and `sql_cover_xy` are the one bbox -> cells rule: every
feature-side fan-out (tiler, polygon fold, cell joins, tile-count
oracles) lists its cells through them. The kNN pruning index alone
keeps a closed range (see `operators.knn._cell_index`).
"""

from __future__ import annotations

import numpy as np

from .config import GRID_SIZE, XMIN, YMIN


def _clamp(v: int, lo: int, hi: int) -> int:
    return lo if v < lo else hi if v > hi else v


def cell_xy(x: float, y: float, depth: int) -> tuple[int, int]:
    """Integer cell coords (col, row) at ``depth`` for a point."""
    res = GRID_SIZE / (1 << depth)
    n = (1 << depth) - 1
    cx = _clamp(int((x - XMIN) // res), 0, n)
    cy = _clamp(int((y - YMIN) // res), 0, n)
    return cx, cy


def quadkey(cx: int, cy: int, depth: int) -> str:
    """Quadkey digits, most-significant level first: digit = 2*ybit + xbit."""
    out = []
    for i in range(depth - 1, -1, -1):
        out.append(chr(48 + (((cy >> i) & 1) << 1) + ((cx >> i) & 1)))
    return "".join(out)


def point_cell(x: float, y: float, depth: int) -> str:
    cx, cy = cell_xy(x, y, depth)
    return quadkey(cx, cy, depth)


def cell_bounds(key: str) -> tuple[float, float, float, float]:
    """(x0, y0, x1, y1) bbox of a quadkey cell — the `tiles.geom` analogue."""
    cx = cy = 0
    for ch in key:
        d = ord(ch) - 48
        cx = (cx << 1) | (d & 1)
        cy = (cy << 1) | (d >> 1)
    res = GRID_SIZE / (1 << len(key))
    x0 = XMIN + cx * res
    y0 = YMIN + cy * res
    return (x0, y0, x0 + res, y0 + res)


def cover(x0: float, y0: float, x1: float, y1: float, depth: int) -> list[str]:
    """All depth-``depth`` cells whose interior meets the bbox
    [x0,x1]x[y0,y1], clamped to the grid. A zero-width or zero-height
    bbox lying on a cell boundary meets no interior; it gets the cell
    of its min corner.

    The `explode(cover_cells(geom))` planning primitive (SURVEY §2 A3/E1).
    """
    res = GRID_SIZE / (1 << depth)
    n = (1 << depth) - 1
    ax0 = _clamp(int((x0 - XMIN) // res), 0, n)
    ay0 = _clamp(int((y0 - YMIN) // res), 0, n)
    # half-open: a rect ending exactly on a cell boundary does not enter
    # the next cell
    ax1 = max(_clamp(int(-((XMIN - x1) // res)) - 1, 0, n), ax0)
    ay1 = max(_clamp(int(-((YMIN - y1) // res)) - 1, 0, n), ay0)
    return [
        quadkey(cx, cy, depth)
        for cy in range(ay0, ay1 + 1)
        for cx in range(ax0, ax1 + 1)
    ]


# ---------------------------------------------------------------- numpy

def cell_xy_np(x: np.ndarray, y: np.ndarray, depth: int):
    res = GRID_SIZE / (1 << depth)
    n = (1 << depth) - 1
    cx = np.clip(np.floor((x - XMIN) / res).astype(np.int64), 0, n)
    cy = np.clip(np.floor((y - YMIN) / res).astype(np.int64), 0, n)
    return cx, cy


def quadkey_np(cx: np.ndarray, cy: np.ndarray, depth: int) -> np.ndarray:
    """Vectorized quadkey: builds a (N, depth) uint8 char matrix."""
    chars = np.empty((len(cx), depth), dtype=np.uint8)
    for i in range(depth):
        s = depth - 1 - i
        chars[:, i] = 48 + (((cy >> s) & 1) << 1) + ((cx >> s) & 1)
    return chars.view(f"S{depth}").ravel().astype(str)


def point_cell_np(x: np.ndarray, y: np.ndarray, depth: int) -> np.ndarray:
    cx, cy = cell_xy_np(np.asarray(x, float), np.asarray(y, float), depth)
    return quadkey_np(cx, cy, depth)


# ------------------------------------------------------- SQL emitters

def _shr(expr: str, bits: int, dialect: str) -> str:
    if dialect == "spark":
        return f"shiftright({expr}, {bits})"
    return f"(({expr}) >> {bits})"


def _sql_idx(v: str, origin: float, depth: int, high: bool = False) -> str:
    """Clamped cell index of coordinate ``v``: the floor, or for a
    half-open high end ``ceil - 1``."""
    res = GRID_SIZE / (1 << depth)
    n = (1 << depth) - 1
    fn, minus = ("ceil", " - 1") if high else ("floor", "")
    return (f"least({n}, greatest(0, "
            f"cast({fn}((({v}) - {origin!r}) / {res!r}) as bigint){minus}))")


def sql_cell_xy(x_expr: str, y_expr: str, depth: int) -> tuple[str, str]:
    """Dialect-neutral integer cell coords (floor/ceil/least/greatest
    are identical in Spark SQL and DuckDB)."""
    return _sql_idx(x_expr, XMIN, depth), _sql_idx(y_expr, YMIN, depth)


def sql_cover_xy(x0: str, y0: str, x1: str, y1: str,
                 depth: int) -> tuple[str, str, str, str]:
    """Inclusive index bounds (cx0, cx1, cy0, cy1) of `cover`'s cells
    for the bbox expressions: floor at the low end, ``ceil(...) - 1``
    at the high end, clamped to the grid, and the high end never below
    the low one (cover's zero-extent guard)."""
    cx0, cy0 = sql_cell_xy(x0, y0, depth)
    cx1 = _sql_idx(x1, XMIN, depth, high=True)
    cy1 = _sql_idx(y1, YMIN, depth, high=True)
    return cx0, f"greatest({cx1}, {cx0})", cy0, f"greatest({cy1}, {cy0})"


def sql_quadkey(cx_expr: str, cy_expr: str, depth: int, dialect: str) -> str:
    parts = []
    for i in range(depth):
        s = depth - 1 - i
        xb = f"({_shr(cx_expr, s, dialect)} & 1)"
        yb = f"({_shr(cy_expr, s, dialect)} & 1)"
        parts.append(f"chr(cast(48 + {yb} * 2 + {xb} as int))")
    return "concat(" + ", ".join(parts) + ")"


def sql_point_cell(x_expr: str, y_expr: str, depth: int, dialect: str) -> str:
    cx, cy = sql_cell_xy(x_expr, y_expr, depth)
    return sql_quadkey(cx, cy, depth, dialect)

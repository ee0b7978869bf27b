"""Quadkey cell index invariants (tile-grid analogue, SURVEY §2 A10/D2)."""

from __future__ import annotations

import numpy as np

from dle import cells
from dle.config import GRID_SIZE, XMIN, YMIN


def test_roundtrip_point_cell_bounds():
    rng = np.random.default_rng(42)
    for depth in (1, 4, 7):
        xs = XMIN + rng.uniform(0, 1_500_000, 200)
        ys = YMIN + rng.uniform(0, 1_300_000, 200)
        for x, y in zip(xs, ys):
            k = cells.point_cell(x, y, depth)
            assert len(k) == depth
            x0, y0, x1, y1 = cells.cell_bounds(k)
            assert x0 <= x < x1 and y0 <= y < y1


def test_prefix_is_parent():
    k = cells.point_cell(XMIN + 123456.0, YMIN + 654321.0, 8)
    for d in range(1, 8):
        assert cells.point_cell(XMIN + 123456.0, YMIN + 654321.0, d) == k[:d]


def test_cover_contains_point_cell():
    rng = np.random.default_rng(7)
    for _ in range(100):
        x0 = XMIN + rng.uniform(0, 1_400_000)
        y0 = YMIN + rng.uniform(0, 1_200_000)
        x1 = x0 + rng.uniform(1, 300_000)
        y1 = y0 + rng.uniform(1, 300_000)
        cov = set(cells.cover(x0, y0, x1, y1, 4))
        # every interior sample's cell is in the cover
        for fx, fy in [(0.01, 0.01), (0.5, 0.5), (0.99, 0.99)]:
            px = x0 + fx * (x1 - x0)
            py = y0 + fy * (y1 - y0)
            assert cells.point_cell(px, py, 4) in cov


def test_cover_halfopen_on_boundary():
    # a rect ending exactly on a cell boundary does not claim the next cell
    res = GRID_SIZE / (1 << 4)
    x0, y0 = XMIN + res, YMIN + res
    cov = cells.cover(x0, y0, x0 + res, y0 + res, 4)
    assert cov == [cells.point_cell(x0 + 1, y0 + 1, 4)]


def _cover_boxes():
    """depth -> 300 bboxes, depths 1..5: half on the quarter-cell
    lattice (cell boundaries often), half off-grid, with zero-width
    and zero-height ones among both."""
    rng = np.random.default_rng(5)
    quarter = int(GRID_SIZE) >> 7       # a quarter of a depth-5 cell
    out: dict = {}
    for depth in range(1, 6):
        for i in range(300):
            if i % 2:    # on the quarter-cell lattice: boundaries often
                u = rng.integers(0, 1 << 7, 4) * quarter
            else:
                u = rng.integers(0, int(GRID_SIZE), 4)
            x0, x1 = sorted(float(v) for v in u[:2])
            y0, y1 = sorted(float(v) for v in u[2:])
            if i % 5 == 0:
                x1 = x0
            if i % 7 == 0:
                y1 = y0
            out.setdefault(depth, []).append(
                (x0 + XMIN, y0 + YMIN, x1 + XMIN, y1 + YMIN))
    return out


def test_cover_equals_brute_force():
    """cover lists exactly the cells whose interior meets the bbox. A
    zero-extent axis on a cell boundary meets no interior; cover gives
    it the min-corner cell, i.e. the cells met by the bbox widened to
    the max side."""
    for depth, boxes in _cover_boxes().items():
        n = 1 << depth
        keys = [cells.quadkey(cx, cy, depth)
                for cx in range(n) for cy in range(n)]
        bounds = {k: cells.cell_bounds(k) for k in keys}
        for x0, y0, x1, y1 in boxes:
            wx1 = x1 + 0.5 if x1 == x0 else x1
            wy1 = y1 + 0.5 if y1 == y0 else y1
            want = {k for k, (a, b, c, d) in bounds.items()
                    if x0 < c and wx1 > a and y0 < d and wy1 > b}
            got = cells.cover(x0, y0, x1, y1, depth)
            assert len(got) == len(set(got))
            assert set(got) == want, (depth, x0, y0, x1, y1)
            if x1 == x0 and y1 == y0:
                assert got == [cells.point_cell(x0, y0, depth)]


def test_numpy_matches_scalar():
    rng = np.random.default_rng(3)
    xs = XMIN + rng.uniform(0, 1_500_000, 500)
    ys = YMIN + rng.uniform(0, 1_300_000, 500)
    got = cells.point_cell_np(xs, ys, 6)
    want = np.array([cells.point_cell(x, y, 6) for x, y in zip(xs, ys)])
    assert (got == want).all()


def test_sql_emitters_match_python(spark):
    rng = np.random.default_rng(11)
    rows = [(float(XMIN + rng.uniform(0, 1_500_000)),
             float(YMIN + rng.uniform(0, 1_300_000))) for _ in range(200)]
    df = spark.createDataFrame(rows, "x double, y double")
    expr = cells.sql_point_cell("x", "y", 5, "spark")
    got = [r.c for r in df.selectExpr(f"{expr} as c").collect()]
    want = [cells.point_cell(x, y, 5) for x, y in rows]
    assert got == want

    # the cover emitter's index ranges list exactly cover's cells, in
    # both dialects, and the Spark explode helper emits exactly them
    import duckdb
    import pandas as pd

    from dle.operators.spatial_join import with_cover_cells

    con = duckdb.connect()
    for depth, boxes in _cover_boxes().items():
        want = [cells.cover(*b, depth) for b in boxes]
        ranges = [f"{e} as r{j}" for j, e in enumerate(
            cells.sql_cover_xy("x0", "y0", "x1", "y1", depth))]
        pdf = pd.DataFrame(boxes, columns=["x0", "y0", "x1", "y1"])
        pdf.insert(0, "i", range(len(boxes)))
        con.register("boxes", pdf)
        bdf = spark.createDataFrame(pdf)
        for got_ranges in (
                con.execute(f"select i, {', '.join(ranges)} from boxes")
                .fetchall(),
                bdf.selectExpr("i", *ranges).collect()):
            got = {r[0]: [cells.quadkey(cx, cy, depth)
                          for cy in range(r[3], r[4] + 1)
                          for cx in range(r[1], r[2] + 1)]
                   for r in got_ranges}
            assert [got[i] for i in range(len(boxes))] == want, depth
        exploded: dict = {}
        for r in with_cover_cells(bdf, depth).collect():
            exploded.setdefault(r["i"], []).append(r["cell"])
        assert [sorted(exploded[i]) for i in range(len(boxes))] == \
            [sorted(w) for w in want], depth

    # a rect ending exactly on a cell edge does not enter the next cell
    res = GRID_SIZE / (1 << 4)
    edge = (XMIN + res + 0.5, YMIN + res + 0.5, XMIN + 3 * res,
            YMIN + 2 * res)
    rect = spark.createDataFrame([edge], "x0 double, y0 double,"
                                         " x1 double, y1 double")
    got = sorted(r["cell"] for r in with_cover_cells(rect, 4).collect())
    assert got == sorted(cells.cover(*edge, 4))
    assert len(got) == 2

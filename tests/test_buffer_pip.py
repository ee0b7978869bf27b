"""Round-4 operators: buffer/dilate/erode (ST_Buffer analogue) and the
exact point-in-polygon refine (VERDICT r3 #3/#4)."""

from __future__ import annotations

import numpy as np
import pytest

from dle.geom import kernel as K
from dle.geom import wkb as W

from conftest import SF_SMOKE


# ------------------------------------------------------------ kernel

def test_dilate_erode_rect_closed_form():
    rect = K.rect_rings(0, 0, 100, 60)
    assert K.area(K.dilate(rect, 5.0)) == pytest.approx(110 * 70)
    assert K.area(K.erode(rect, 5.0)) == pytest.approx(90 * 50)
    # buffer_rings signs
    assert K.area(K.buffer_rings(rect, -5.0)) == pytest.approx(90 * 50)
    assert K.area(K.buffer_rings(rect, 5.0)) == pytest.approx(110 * 70)


def test_dilate_triangle_minkowski_exact():
    # right triangle (0,0)-(10,0)-(0,10) + square r=1:
    # A + per-edge support widths + square = 50 + 10 + 10 + 20 + 4
    tri = [np.array([[0, 0], [10, 0], [0, 10], [0, 0]], float)]
    assert K.area(K.dilate(tri, 1.0)) == pytest.approx(94.0)


def test_closing_fills_small_gaps_only():
    two = K.rect_rings(0, 0, 10, 10) + K.rect_rings(13, 0, 23, 10)
    closed = K.erode(K.dilate(two, 2.0), 2.0)
    assert K.area(closed) == pytest.approx(230.0)  # 3m gap < 2r: filled
    far = K.rect_rings(0, 0, 10, 10) + K.rect_rings(15, 0, 25, 10)
    closed2 = K.erode(K.dilate(far, 2.0), 2.0)
    assert K.area(closed2) == pytest.approx(200.0)  # 5m gap > 2r: kept


def test_erode_kills_thin_sliver():
    sliver = K.rect_rings(0, 0, 100, 3)
    assert K.erode(sliver, 2.0) == []
    assert K.buffer_rings(sliver, -2.0) == []


def test_dilate_fuzz_union_of_rects_matches_interval_algebra():
    """Union-of-strip-rects dilation == threshold interval islands —
    the same algebra the overlay_buffer_area oracle uses."""
    rng = np.random.RandomState(7)
    for _ in range(20):
        n = rng.randint(1, 8)
        x0s = np.sort(rng.randint(0, 500, size=n)).astype(float)
        ws = rng.randint(5, 120, size=n).astype(float)
        r = float(rng.randint(1, 15))
        rects = []
        for a, w in zip(x0s, ws):
            rects += K.rect_rings(a, 0.0, a + w, 40.0)
        got = K.area(K.dilate(rects, r))
        # islands over [a-r, a+w+r]
        ivs = sorted((a - r, a + w + r) for a, w in zip(x0s, ws))
        tot, cx0, cx1 = 0.0, *ivs[0]
        for a, b in ivs[1:]:
            if a > cx1:
                tot += cx1 - cx0
                cx0, cx1 = a, b
            else:
                cx1 = max(cx1, b)
        tot += cx1 - cx0
        assert got == pytest.approx(tot * (40.0 + 2 * r)), (x0s, ws, r)


def test_points_in_rings_winding_and_holes():
    # square with a hole: nonzero winding honors the hole
    shell = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = shell[::-1] * 0.4 + 3  # CW inner square [3,7]^2
    inside = K.points_in_rings(
        np.array([1.0, 5.0, 8.0]), np.array([1.0, 5.0, 8.0]),
        [shell, hole])
    assert inside.tolist() == [True, False, True]
    # bowtie (self-intersecting): nonzero winding covers both lobes
    bow = [np.array([[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]], float)]
    ins = K.points_in_rings(
        np.array([1.0, 9.0, 5.0]), np.array([5.0, 5.0, 1.0]), bow)
    assert ins.tolist() == [True, True, False]


def test_points_in_rings_matches_area_predicate_fuzz():
    """The winding test must agree with the slab kernel's coverage
    semantics: a point inside per points_in_rings lies in a face of
    boolean(rings, [], 'a') and vice versa (off-boundary points)."""
    rng = np.random.RandomState(3)
    for _ in range(10):
        pts = rng.randint(0, 100, size=(6, 2)).astype(float)
        ring = np.vstack([pts, pts[:1]])
        rings = [ring]
        px = rng.randint(0, 100, size=50) + 0.5
        py = rng.randint(0, 100, size=50) + 0.5
        got = K.points_in_rings(px, py, rings)
        repaired = K.boolean(rings, [], "a", 0.001)
        want = K.points_in_rings(px, py, repaired)
        assert got.tolist() == want.tolist()


def test_buffer_morphology_properties_fuzz_rectilinear():
    """Mathematical-morphology invariants on random rect unions —
    rectilinear integer geometry snaps EXACTLY at the kernel grid, so
    the invariants hold strictly, including set containment: dilation
    grows, erosion shrinks, closing ⊇ original, opening ⊆ original."""
    rng = np.random.RandomState(11)
    for _ in range(15):
        rings = []
        for _ in range(rng.randint(1, 6)):
            x0, y0 = rng.randint(0, 180, size=2)
            w, h = rng.randint(3, 60, size=2)
            rings += K.rect_rings(float(x0), float(y0),
                                  float(x0 + w), float(y0 + h))
        r = float(rng.randint(1, 10))
        base = K.boolean(rings, [], "a", 0.1)
        a0 = K.area(base)
        dil = K.dilate(rings, r)
        ero = K.erode(rings, r)
        assert K.area(dil) >= a0 - 1e-6
        assert K.area(ero) <= a0 + 1e-6
        closing = K.erode(dil, r)
        opening = K.dilate(ero, r)
        assert K.area(closing) >= a0 - 1e-6
        assert K.area(opening) <= a0 + 1e-6
        # strict set containment (exact on rectilinear integers)
        assert K.boolean_area(base, closing, "diff", 0.1) <= 1e-6
        assert K.boolean_area(opening, base, "diff", 0.1) <= 1e-6


def test_buffer_morphology_area_fuzz_slanted():
    """The same growth/shrink invariants on SLANTED ring soups, with
    tolerance scaled to the known re-snap drift (each boolean re-snaps
    grid-quantized geometry; drift per op is bounded by
    ~perimeter * grid / 2 — see the kernel-fuzz suite)."""
    rng = np.random.RandomState(13)
    grid = 0.1
    for _ in range(12):
        rings = []
        for _ in range(rng.randint(1, 5)):
            pts = rng.randint(0, 200, size=(rng.randint(3, 7), 2)) \
                .astype(float)
            rings.append(np.vstack([pts, pts[:1]]))
        r = float(rng.randint(1, 10))
        base = K.boolean(rings, [], "a", grid)
        a0 = K.area(base)
        perim = sum(
            float(np.sum(np.hypot(np.diff(rg[:, 0]), np.diff(rg[:, 1]))))
            for rg in base)
        tol = 3.0 * perim * grid + 1e-6  # several snap rounds of slack
        dil = K.dilate(rings, r)
        ero = K.erode(rings, r)
        assert K.area(dil) >= a0 - tol
        assert K.area(ero) <= a0 + tol
        assert K.area(K.erode(dil, r)) >= a0 - tol   # closing ⊇ ~original
        assert K.area(K.dilate(ero, r)) <= a0 + tol  # opening ⊆ ~original


# ---------------------------------------------------------- operators

def test_pip_join_polygons_triangles(spark):
    """Engine polygon join == closed-form half-plane containment."""
    from dle import datagen, sqlgen
    from dle.config import DEFAULT_DEPTH
    from dle.operators.spatial_join import pip_join_polygons

    pts = sqlgen.spark_view(spark, SF_SMOKE, "points") \
        .select("page_id", "cand_i", "px", "py")
    tris = datagen.tris_poly(spark, SF_SMOKE)
    got = sorted(
        (r["page_id"], r["cand_i"], r["feat_id"])
        for r in pip_join_polygons(pts, tris, DEFAULT_DEPTH).collect())

    t = {r["feat_id"]: r for r in tris.collect()}
    want = []
    for p in pts.collect():
        for f, r in t.items():
            w, h = r["x1"] - r["x0"], r["y1"] - r["y0"]
            d = (p["px"] - r["x0"]) * h + (p["py"] - r["y0"]) * w
            if r["orient"] == 0:
                ok = (p["px"] > r["x0"] and p["py"] > r["y0"]
                      and d < w * h)
            else:
                ok = (p["px"] < r["x1"] and p["py"] < r["y1"]
                      and d > w * h)
            if ok:
                want.append((p["page_id"], p["cand_i"], f))
    assert got == sorted(want)


def test_pip_join_polygons_with_holes(spark):
    """Operator-level hole semantics: a donut feature must match ring
    points but not hole points."""
    from dle.config import XMIN, YMIN
    from dle.operators.spatial_join import pip_join_polygons

    x0, y0 = XMIN + 100_000.0, YMIN + 100_000.0
    shell = np.array([[x0, y0], [x0 + 80_000, y0],
                      [x0 + 80_000, y0 + 80_000], [x0, y0 + 80_000],
                      [x0, y0]])
    hole = np.array([[x0 + 20_000, y0 + 20_000], [x0 + 20_000, y0 + 60_000],
                     [x0 + 60_000, y0 + 60_000], [x0 + 60_000, y0 + 20_000],
                     [x0 + 20_000, y0 + 20_000]])  # CW inner ring
    polys = spark.createDataFrame(
        [(1, x0, y0, x0 + 80_000, y0 + 80_000,
          bytearray(W.polygon_wkb([shell, hole])))],
        "feat_id int, x0 double, y0 double, x1 double, y1 double,"
        " geom binary")
    pts = spark.createDataFrame(
        [(1, x0 + 10_000.5, y0 + 10_000.5),   # ring: inside
         (2, x0 + 40_000.5, y0 + 40_000.5),   # hole: outside
         (3, x0 + 70_000.5, y0 + 40_000.5),   # ring: inside
         (4, x0 + 90_000.5, y0 + 40_000.5)],  # beyond bbox: outside
        "pid int, px double, py double")
    got = sorted(r["pid"] for r in pip_join_polygons(
        pts, polys, 7).collect())
    assert got == [1, 3]


def test_buffer_geoms_drops_eroded_away_rows(spark):
    from dle.operators.overlay import buffer_geoms, with_area
    rows = [(1, bytearray(W.polygon_wkb(K.rect_rings(0, 0, 1000, 1000)))),
            (2, bytearray(W.polygon_wkb(K.rect_rings(0, 0, 5000, 100))))]
    df = spark.createDataFrame(rows, "fid int, geom binary")
    out = with_area(buffer_geoms(df, -300.0)).collect()
    assert [(r["fid"], r["area_m2"]) for r in out] == [(1, 400 * 400)]
    out2 = {r["fid"]: r["area_m2"]
            for r in with_area(buffer_geoms(df, 300.0)).collect()}
    assert out2 == {1: 1600 * 1600, 2: 5600 * 700}


def test_boundary_north_buffer(spark):
    """build_boundary(class_buffer=...) — the reference's 250 m north
    border buffer (create_tiles.sql:68): marine pieces dilated before
    claiming space, so land loses exactly the dilation ring."""
    from dle import datagen
    from dle.operators.overlay import with_area
    from dle.plans.boundary import build_boundary
    from pyspark.sql import functions as F

    pieces = datagen.boundary_pieces(spark)
    base = build_boundary(spark, pieces)
    buffered = build_boundary(spark, pieces,
                              class_buffer={"marine": 250.0})

    def areas(df):
        return {r["cls"]: r["a"] for r in
                with_area(df).groupBy("cls")
                .agg(F.sum("area_m2").alias("a")).collect()}

    a0, a1 = areas(base), areas(buffered)
    # marine rect pieces: (100k x 120k) and (100k x 60k); dilation adds
    # perimeter*r + 4r^2 each (both rects lie strictly inside land)
    add1 = 2 * (100_000 + 120_000) * 250 + 4 * 250 ** 2
    add2 = 2 * (100_000 + 60_000) * 250 + 4 * 250 ** 2
    assert a1["marine"] - a0["marine"] == pytest.approx(
        add1 + add2, rel=1e-6)
    assert a0["land"] - a1["land"] == pytest.approx(
        add1 + add2, rel=1e-6)


def test_run_stage_reraises_on_corrupt_parquet(tmp_path, spark,
                                               monkeypatch):
    """ADVICE r3: a read-back failure of a committed stage must raise
    and must not be recorded as a completed stage."""
    from pathlib import Path

    from pyspark.sql.readwriter import DataFrameReader

    from dle.plans.checkpoint import Manifest, run_stage

    man = Manifest(str(tmp_path / "manifest"))
    df = spark.createDataFrame([("c1", 1)], "cell string, v int")
    real = DataFrameReader.parquet
    corrupted = []

    def corrupt_then_read(self, *paths, **kw):
        # corrupt every part file the write committed, then read back
        for f in (f for p in paths for f in Path(p).rglob("*.parquet")):
            f.write_bytes(b"corrupt")
            corrupted.append(f)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", corrupt_then_read)
    with pytest.raises(Exception):
        run_stage(spark, man, "s1", "fp", lambda: df, str(tmp_path))
    assert corrupted
    assert man.record("s1") is None

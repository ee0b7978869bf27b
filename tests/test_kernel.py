"""Geometry kernel correctness (SURVEY §5: operator unit tests +
property-based invariants).

Independent oracles:
  * axis-aligned union area via coordinate-compression grid sweep
    (different algorithm than the slab kernel)
  * algebraic identities that must hold EXACTLY in the snapped-edge
    model: |A|+|B| = |A∪B|+|A∩B|,  |A\\B| = |A|-|A∩B|
  * assembly check: area(assembled rings) == trapezoid-sum area
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from dle.geom import kernel as K
from dle.geom import wkb


def grid_union_area(rects):
    """Coordinate-compression oracle for union of axis-aligned rects."""
    xs = sorted({r[0] for r in rects} | {r[2] for r in rects})
    ys = sorted({r[1] for r in rects} | {r[3] for r in rects})
    total = 0.0
    for i in range(len(xs) - 1):
        for j in range(len(ys) - 1):
            cx, cy = (xs[i] + xs[i + 1]) / 2, (ys[j] + ys[j + 1]) / 2
            if any(r[0] < cx < r[2] and r[1] < cy < r[3] for r in rects):
                total += (xs[i + 1] - xs[i]) * (ys[j + 1] - ys[j])
    return total


rect_st = st.tuples(
    st.integers(0, 400), st.integers(0, 400),
    st.integers(1, 200), st.integers(1, 200),
).map(lambda t: (t[0], t[1], t[0] + t[2], t[1] + t[3]))


# 25 overlapping rects over a shared x-range: 50 active edges in the
# slab [24, 200], past the 48 at which `_sweep` switches its predicate
# emission to the vectorized (fat-slab) form
FAT_SLAB = [(i, 12 * i, 200 + i, 12 * i + 20) for i in range(25)]


def _max_active_edges(tagged, grid):
    """Most edges active in one slab of the sweep (rectilinear input:
    slab bounds are the edge endpoints)."""
    x0, _, x1, _, _, _ = K._edges(tagged, grid)
    xs = np.unique(np.concatenate([x0, x1]))
    xm = 0.5 * (xs[:-1] + xs[1:])
    return int(((x0[None, :] < xm[:, None])
                & (xm[:, None] < x1[None, :])).sum(axis=1).max())


@settings(max_examples=40, deadline=None)
@given(st.lists(rect_st, min_size=1, max_size=12))
@example(FAT_SLAB)
def test_union_area_matches_grid_oracle(rects):
    ring_lists = [K.rect_rings(*r) for r in rects]
    if rects == FAT_SLAB:
        merged = [r for rl in ring_lists for r in rl]
        assert _max_active_edges([(0, merged)], 1.0) >= 48
    got = K.union_all_area(ring_lists, grid=1.0)
    want = grid_union_area(rects)
    assert got == pytest.approx(want, rel=1e-9)


@settings(max_examples=40, deadline=None)
@given(st.lists(rect_st, min_size=1, max_size=6),
       st.lists(rect_st, min_size=1, max_size=6))
@example(FAT_SLAB, [(100, 0, 300, 150), (50, 200, 120, 400)])
def test_boolean_identities(ra, rb):
    a = [r for rect in ra for r in K.rect_rings(*rect)]
    b = [r for rect in rb for r in K.rect_rings(*rect)]
    g = 1.0
    if ra == FAT_SLAB:
        assert _max_active_edges([(0, a), (1, b)], g) >= 48
    A = K.boolean_area(a, [], "a", g)
    B = K.boolean_area(b, [], "a", g)
    U = K.boolean_area(a, b, "or", g)
    Ix = K.boolean_area(a, b, "and", g)
    D = K.boolean_area(a, b, "diff", g)
    X = K.boolean_area(a, b, "xor", g)
    assert A + B == pytest.approx(U + Ix, rel=1e-9)
    assert D == pytest.approx(A - Ix, rel=1e-9)
    assert X == pytest.approx(U - Ix, rel=1e-9)


@settings(max_examples=25, deadline=None)
@given(st.lists(rect_st, min_size=1, max_size=8), st.randoms())
def test_assembled_rings_area_equals_trap_area(rects, rnd):
    ring_lists = [K.rect_rings(*r) for r in rects]
    rings = K.union_all(ring_lists, grid=1.0)
    assert K.area(rings) == pytest.approx(
        K.union_all_area(ring_lists, grid=1.0), rel=1e-9)


@settings(max_examples=25, deadline=None)
@given(st.lists(rect_st, min_size=2, max_size=8), st.randoms())
def test_union_order_invariance(rects, rnd):
    """Dissolve must not depend on input order (partition determinism)."""
    ring_lists = [K.rect_rings(*r) for r in rects]
    a1 = K.union_all_area(ring_lists, grid=1.0)
    shuffled = list(ring_lists)
    rnd.shuffle(shuffled)
    a2 = K.union_all_area(shuffled, grid=1.0)
    assert a1 == a2


def _rot(rings, theta, cx=0.0, cy=0.0):
    c, s = np.cos(theta), np.sin(theta)
    R = np.array([[c, -s], [s, c]])
    return [(r - [cx, cy]) @ R.T + [cx, cy] for r in rings]


@settings(max_examples=20, deadline=None)
@given(st.floats(0.05, 3.0), rect_st, rect_st)
def test_rotated_identities(theta, ra, rb):
    a = _rot(K.rect_rings(*ra), theta, 200, 200)
    b = _rot(K.rect_rings(*rb), -theta, 200, 200)
    g = 0.5
    A = K.boolean_area(a, [], "a", g)
    B = K.boolean_area(b, [], "a", g)
    U = K.boolean_area(a, b, "or", g)
    Ix = K.boolean_area(a, b, "and", g)
    assert A + B == pytest.approx(U + Ix, rel=1e-9, abs=1e-6)
    # snapped rotated rectangle stays close to the exact area; the
    # snapping error bound is perimeter * grid / 2 (each edge may move
    # up to grid/2), which dominates for extreme-aspect slivers
    # (hypothesis-found: an 18x1 rect at theta=1 came in at 22.75 vs
    # 18 — inside the 9.5 snap bound, outside the old flat abs=4)
    w, h = ra[2] - ra[0], ra[3] - ra[1]
    snap_bound = (w + h) * g  # == perimeter * g / 2
    assert A == pytest.approx(w * h, rel=0.2,
                              abs=max(4.0, snap_bound))


def test_make_valid_bowtie():
    bow = [np.array([[0, 0], [100, 100], [100, 0], [0, 100], [0, 0]],
                    float)]
    fixed = K.make_valid(bow, 1.0)
    assert K.area(fixed) == pytest.approx(5000.0)
    assert len(fixed) == 2  # two triangles
    for r in fixed:
        assert K.area([r]) > 0  # shells CCW


def test_hole_ring_orientation():
    res = K.difference(K.rect_rings(0, 0, 100, 100),
                       K.rect_rings(25, 25, 75, 75), 1.0)
    areas = sorted(K.area([r]) for r in res)
    assert areas[0] == pytest.approx(-2500.0)  # CW hole
    assert areas[1] == pytest.approx(10000.0)  # CCW shell


def test_planarize_three_layer_stack():
    a = K.rect_rings(0, 0, 30, 30)
    b = K.rect_rings(10, 0, 40, 30)
    c = K.rect_rings(20, 0, 50, 30)
    faces = K.planarize([(0, a), (1, b), (2, c)], 1.0)
    got = {f.labels: round(f.area_m2, 6) for f in faces}
    assert got == {(0,): 300.0, (0, 1): 300.0, (0, 1, 2): 300.0,
                   (1, 2): 300.0, (2,): 300.0}
    total = sum(f.area_m2 for f in faces)
    assert total == pytest.approx(K.union_all_area([a, b, c], 1.0))
    for f in faces:  # representative point lies inside its own face
        assert any(wkb._point_in_ring(f.rep_x, f.rep_y, r)
                   for r in f.rings)


def test_planarize_disconnected_same_label():
    a = [K.rect_rings(0, 0, 10, 10)[0], K.rect_rings(20, 0, 30, 10)[0]]
    faces = K.planarize([(0, a)], 1.0)
    assert len(faces) == 2  # same label, two components


def test_wkb_roundtrip():
    rings = K.difference(K.rect_rings(0, 0, 100, 100),
                         K.rect_rings(25, 25, 75, 75), 1.0)
    buf = wkb.rings_wkb(rings)
    kind, back = wkb.parse(buf)
    assert kind == "polygon"
    assert K.area(back) == pytest.approx(K.area(rings))
    mp = wkb.multipolygon_wkb([K.rect_rings(0, 0, 1, 1),
                               K.rect_rings(5, 5, 6, 6)])
    kind, back = wkb.parse(mp)
    assert kind == "multipolygon" and len(back) == 2
    x, y = wkb.parse_point(wkb.point_wkb(3.5, -7.25))
    assert (x, y) == (3.5, -7.25)

"""Spatial kNN operator (north_star op)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from dle import datagen
from dle import queries as q
from dle import sqlgen
from dle.cells import cell_xy
from dle.config import XMIN, YMIN, res_at
from dle.operators import knn, spatial_join
from dle.operators.knn import knn_join_pruned, knn_join_rects

SF = "/root/testdata/sf0.001"


def test_knn_ranks_are_dense_and_distance_sorted(spark):
    out = q.q_spatial_knn(spark, SF).collect()
    by_pt = {}
    for r in out:
        by_pt.setdefault((r["page_id"], r["cand_i"]), []).append(
            (r["rank"], r["d2"], r["feat_id"]))
    assert by_pt
    for pt, rows in by_pt.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        d2s = [r[1] for r in rows]
        assert d2s == sorted(d2s), pt


def _inputs(spark):
    pts = sqlgen.spark_view(spark, SF, "points").select(
        "page_id", "cand_i", "px", "py")
    return pts, sqlgen.spark_view(spark, SF, "layers")


def _rows(df):
    return sorted(tuple(r) for r in df.select(
        "page_id", "cand_i", "rank", "feat_id", "d2").collect())


def test_knn_pruned_persists_nothing(spark):
    """The pruned join caches no frame: the set of persisted RDDs after
    a consumed call holds no RDD that was not there before."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    q.q_spatial_knn_pruned(spark, SF).count()
    assert persisted() <= before


def test_knn_pruned_plan_is_one_scan_side_map(spark):
    """One MapInPandas over the points: no Window, no cached relation,
    and no Exchange beyond those the points plan itself has."""
    pts, lay = _inputs(spark)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan(knn_join_pruned(pts, lay, k=3))
    assert p.count("MapInPandas") == 1
    assert "Window" not in p
    assert "InMemoryRelation" not in p
    assert p.count("Exchange") == plan(pts).count("Exchange")


def test_knn_pruned_interleaved_calls_equal_brute(spark):
    """Two pruned calls built before either is consumed both equal the
    brute-force join."""
    pts, lay = _inputs(spark)
    a = knn_join_pruned(pts, lay, k=3)
    b = knn_join_pruned(pts.where("cand_i = 0"), lay, k=2)
    assert _rows(a) == _rows(knn_join_rects(pts, lay, k=3))
    assert _rows(b) == _rows(
        knn_join_rects(pts.where("cand_i = 0"), lay, k=2))


def test_knn_feature_collect_cap_both_sides(spark, monkeypatch):
    """Both kNN entry points and the polygon precedence fold collect at
    most MAX_BROADCAST_FEATURES + 1 feature rows through one bounded
    collect (spatial_join.collect_dimension): at the cap they run, one
    row over it they raise."""
    pts, lay = _inputs(spark)
    n = lay.count()
    monkeypatch.setattr(spatial_join, "MAX_BROADCAST_FEATURES", n)
    at_cap = _rows(knn_join_rects(pts, lay, k=3))
    assert at_cap and _rows(knn_join_pruned(pts, lay, k=3)) == at_cap
    monkeypatch.setattr(spatial_join, "MAX_BROADCAST_FEATURES", n - 1)
    for fn in (knn_join_rects, knn_join_pruned):
        with pytest.raises(ValueError, match=rf"{fn.__name__}.*{n - 1}"):
            fn(pts, lay, k=3)

    fold = spatial_join.pip_polygon_precedence_fold
    tris = datagen.tris_poly(spark, SF)
    m = tris.count()
    monkeypatch.setattr(spatial_join, "MAX_BROADCAST_FEATURES", m)
    won = fold(pts, tris, 5).where("win_feat_id is not null").count()
    assert won > 0  # at the cap the fold runs and covers points
    monkeypatch.setattr(spatial_join, "MAX_BROADCAST_FEATURES", m - 1)
    with pytest.raises(ValueError, match=rf"{fold.__name__}.*{m - 1}"):
        fold(pts, tris, 5)


def _d2(px, py, r):
    _, x0, y0, x1, y1 = r
    dx = max(x0 - px, px - x1, 0.0)
    dy = max(y0 - py, py - y1, 0.0)
    return int(dx * dx + dy * dy)


@st.composite
def _knn_case(draw, depth, ring):
    """Integral-coordinate rects and points in a window a few cells
    wide, optionally at the grid's clamped edge. Points are drawn free,
    on cell edges, on (and one meter past) dilation edges, or far
    outside every feature's ring."""
    res = int(res_at(depth))
    R = ring * res
    c0 = draw(st.sampled_from([1, 20]))
    ox, oy = int(XMIN + 0.5) + c0 * res, int(YMIN + 0.5) + c0 * res
    span = 6 * res
    coord = st.integers(-span, span)
    size = st.integers(0, 2 * res)
    ids = draw(st.lists(st.integers(0, 10**6), max_size=10, unique=True))
    rects = []
    for fid in ids:
        x0, y0 = ox + draw(coord), oy + draw(coord)
        rects.append((fid, x0, y0, x0 + draw(size), y0 + draw(size)))
    pts = []
    for _ in range(draw(st.integers(1, 30))):
        kind = draw(st.sampled_from(["free", "cell", "dilation", "far"]))
        if kind == "cell":
            i, j = draw(st.integers(-8, 8)), draw(st.integers(-8, 8))
            p = (XMIN + (c0 + i) * res, YMIN + (c0 + j) * res)
        elif kind == "dilation" and rects:
            _, x0, y0, x1, y1 = draw(st.sampled_from(rects))
            e = draw(st.sampled_from([0, 1]))
            p = (draw(st.sampled_from([x0 - R - e, x1 + R + e])),
                 draw(st.sampled_from([y0 - R - e, y1 + R + e, y0])))
        elif kind == "far":
            p = (ox + 40 * res, oy - 40 * res)
        else:
            p = (ox + draw(coord), oy + draw(coord))
        pts.append((float(p[0]), float(p[1])))
    return rects, pts, draw(st.integers(1, 5))


@pytest.mark.parametrize("depth,ring", [(7, 3), (10, 1), (12, 0), (13, 2)])
def test_knn_batch_exact_fuzz(depth, ring):
    """The per-batch kernel, pruned and brute, returns for every point
    exactly sorted((d2, feat_id))[:k] of plain Python. The branch each
    point should take is re-derived from the scalar cell functions, and
    both the resolved and the fallback branch must occur."""
    R = ring * res_at(depth)
    seen = set()

    @given(_knn_case(depth, ring))
    @settings(max_examples=150, deadline=None)
    def check(case):
        rects, pts, k = case
        rects = sorted(rects)
        feats = tuple(np.array([r[i] for r in rects],
                               dtype=np.int64 if i == 0 else np.float64)
                      for i in range(5))
        index = knn._cell_index(*feats[1:], depth, ring)
        pxs = np.array([p[0] for p in pts])
        pys = np.array([p[1] for p in pts])
        for idx in (None, index):
            sel, d2 = knn._knn_batch(pxs, pys, feats, k, idx)
            for i, (px, py) in enumerate(pts):
                want = sorted((_d2(px, py, r), r[0]) for r in rects)[:k]
                got = [(int(d2[i, j]), int(feats[0][sel[i, j]]))
                       for j in range(sel.shape[1])]
                assert got == want, (px, py, k)
        for px, py in pts:
            pc = cell_xy(px, py, depth)
            cand = sorted(
                _d2(px, py, r) for r in rects
                if cell_xy(r[1] - R, r[2] - R, depth)[0] <= pc[0]
                <= cell_xy(r[3] + R, r[4] + R, depth)[0]
                and cell_xy(r[1] - R, r[2] - R, depth)[1] <= pc[1]
                <= cell_xy(r[3] + R, r[4] + R, depth)[1])
            seen.add("resolved" if len(cand) >= k and cand[k - 1] <= R * R
                     else "fallback")

    check()
    assert seen == {"resolved", "fallback"}

"""Spatial kNN join (north_star: "pandas UDFs for point-in-polygon,
polygon intersection, and kNN").

For every point, the k nearest rectangle features by euclidean distance
to the feature's boundary/interior (distance 0 when inside), ranked by
(d2, feat_id). Distances are exact BIGINT squared meters for integral
coordinates: float64 ``max(x0 - px, px - x1, 0)`` per axis, summed
squares, truncating int64 cast — the same arithmetic as the DuckDB
oracle, so ranking is reproducible bit-for-bit across engines and
partitionings.

Physical recipe, shared by both entry points: the feature table is a
dimension table. It is collected once to the driver (bounded by
``spatial_join.MAX_BROADCAST_FEATURES``; above it the call raises),
shipped as a numpy broadcast, and each point's top-k is computed inside
one ``mapInPandas`` over the points — no point-side exchange, nothing
point x feature sized ever materialized as rows.

  * `knn_join_rects` ranks every point against every feature.
  * `knn_join_pruned` first ranks a point against only the features
    whose bbox, dilated by ``ring`` cells, covers the point's cell
    (a CSR cell -> feature index built on the driver), and keeps that
    answer when it is provably complete; the rest of the batch falls
    back to the full ranking. Results are identical to the brute form.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from . import spatial_join
from ..cells import cell_xy_np
from ..config import res_at

_NP_INT = {"int": np.int32, "bigint": np.int64,
           "smallint": np.int16, "tinyint": np.int8}


def release_cache(session=None) -> None:
    """No-op: the kNN operators persist nothing. Kept so callers that
    release engine caches between runs need no special case."""


def _collect_features(rects: DataFrame, op: str):
    """The feature table as numpy arrays (fid, x0, y0, x1, y1) ordered by
    feat_id — array position is the feat_id tiebreak rank. One bounded
    driver collect: raises ValueError above MAX_BROADCAST_FEATURES."""
    rows = spatial_join.collect_dimension(
        rects.select("feat_id", "x0", "y0", "x1", "y1").orderBy("feat_id"),
        op)
    cols = list(zip(*rows)) or [()] * 5
    return (np.array(cols[0], dtype=np.int64),
            *(np.array(c, dtype=np.float64) for c in cols[1:]))


def _cell_index(fx0, fy0, fx1, fy1, depth: int, ring: int):
    """The pruning index (cells, indptr, ranks, depth, R²), R = ring *
    res_at(depth): a CSR map from each occupied cell id
    ``cx * 2^depth + cy`` (ascending) to the ascending feature ranks
    whose bbox dilated by R covers it. Cell ranges are CLOSED (floor
    at both ends, clamped), not cells.cover's half-open rule: the
    completeness bound (k-th d2 <= R²) needs a point exactly R from a
    feature to list that feature, and a dilated bbox ending on a cell
    edge would drop the next cell under the half-open rule. So a
    feature NOT listed for a point's cell is farther than R from the
    point."""
    R = ring * res_at(depth)
    side = 1 << depth
    ax, ay = cell_xy_np(fx0 - R, fy0 - R, depth)
    bx, by = cell_xy_np(fx1 + R, fy1 + R, depth)
    # an inverted bbox still covers its range, as sequence() does there
    cx0, cx1 = np.minimum(ax, bx), np.maximum(ax, bx)
    cy0, cy1 = np.minimum(ay, by), np.maximum(ay, by)
    hy = cy1 - cy0 + 1
    cnt = (cx1 - cx0 + 1) * hy
    off = (np.arange(cnt.sum(), dtype=np.int64)
           - np.repeat(np.cumsum(cnt) - cnt, cnt))
    hy = np.repeat(hy, cnt)
    cell = ((np.repeat(cx0, cnt) + off // hy) * side
            + np.repeat(cy0, cnt) + off % hy)
    order = np.argsort(cell, kind="stable")
    cells, counts = np.unique(cell[order], return_counts=True)
    indptr = np.concatenate([[0], np.cumsum(counts)])
    ranks = np.repeat(np.arange(len(fx0), dtype=np.int64), cnt)[order]
    return cells, indptr, ranks, depth, R * R


def _topk(pxs, pys, fx0, fy0, fx1, fy1, k: int):
    """Exact top-k per point against the given features: (sel, d2), int64
    arrays of shape (points, min(k, features)); sel indexes the feature
    arrays, rows ordered by (d2, index). The score matrix lives only
    chunk-at-a-time in preallocated numpy buffers, and ranking uses the
    strictly-unique combined key d2 * nf + index."""
    n, nf = len(pxs), len(fx0)
    kk = min(k, nf)
    sel_out = np.empty((n, kk), dtype=np.int64)
    d2_out = np.empty((n, kk), dtype=np.int64)
    if n == 0 or kk <= 0:
        return sel_out, d2_out
    colidx = np.arange(nf, dtype=np.int64)
    # the combined key fits int64 for any d2 the coordinate domain can
    # produce; guarded anyway
    key_cap = (np.iinfo(np.int64).max // nf) - nf
    chunk = max(1, 4_000_000 // nf)
    dx = np.empty((min(chunk, n), nf))
    dy = np.empty_like(dx)
    tmp = np.empty_like(dx)
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        b = e - s
        dxv, dyv, tmpv = dx[:b], dy[:b], tmp[:b]
        pc = pxs[s:e, None]
        np.subtract(fx0[None, :], pc, out=dxv)
        np.subtract(pc, fx1[None, :], out=tmpv)
        np.maximum(dxv, tmpv, out=dxv)
        np.maximum(dxv, 0.0, out=dxv)
        pc = pys[s:e, None]
        np.subtract(fy0[None, :], pc, out=dyv)
        np.subtract(pc, fy1[None, :], out=tmpv)
        np.maximum(dyv, tmpv, out=dyv)
        np.maximum(dyv, 0.0, out=dyv)
        np.multiply(dxv, dxv, out=dxv)
        np.multiply(dyv, dyv, out=dyv)
        np.add(dxv, dyv, out=dxv)          # dxv = d2 (float64)
        d2 = dxv.astype(np.int64)
        if d2.max(initial=0) > key_cap:    # never at map scale
            sel = np.stack([np.lexsort((colidx, row))[:kk] for row in d2])
            d2s = np.take_along_axis(d2, sel, axis=1)
        else:
            d2 *= nf                       # in-place combined
            d2 += colidx[None, :]          # key (d2, index)
            if kk < nf:
                part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
                sel = np.take_along_axis(part, np.argsort(
                    np.take_along_axis(d2, part, axis=1), axis=1), axis=1)
            else:
                sel = np.argsort(d2, axis=1)
            # recover exact d2 from the key: (key - index) / nf
            d2s = np.take_along_axis(d2, sel, axis=1)
            d2s -= sel
            d2s //= nf
        sel_out[s:e] = sel
        d2_out[s:e] = d2s
    return sel_out, d2_out


def _knn_batch(pxs, pys, feats, k: int, index=None):
    """Top-k of one batch of points: (sel, d2) as in `_topk`, sel being
    feature ranks. With an `index` from `_cell_index`, points are
    grouped by cell and ranked against their cell's candidates first; a
    point keeps that answer when it has >= k candidates and its k-th
    d2 <= R² (every unlisted feature is farther than R). All other
    points, and every point when `index` is None, are ranked against
    the whole feature table."""
    _, fx0, fy0, fx1, fy1 = feats
    if index is None:
        return _topk(pxs, pys, fx0, fy0, fx1, fy1, k)
    cells, indptr, ranks, depth, bound = index
    n = len(pxs)
    sel = np.empty((n, min(k, len(fx0))), dtype=np.int64)
    d2 = np.empty_like(sel)
    todo = np.ones(n, dtype=bool)
    if 0 < k <= len(fx0) and n and len(cells):
        cx, cy = cell_xy_np(pxs, pys, depth)
        cell = cx * (1 << depth) + cy
        order = np.argsort(cell, kind="stable")
        cs = cell[order]
        starts = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]])
        ends = np.r_[starts[1:], n]
        pos = np.minimum(np.searchsorted(cells, cs[starts]),
                         len(cells) - 1)
        for a, b, p in zip(starts, ends, pos):
            if cells[p] != cs[a]:
                continue
            cand = ranks[indptr[p]:indptr[p + 1]]
            if len(cand) < k:
                continue
            rows = order[a:b]
            s, d = _topk(pxs[rows], pys[rows], fx0[cand], fy0[cand],
                         fx1[cand], fy1[cand], k)
            ok = d[:, -1] <= bound
            rows = rows[ok]
            sel[rows] = cand[s[ok]]
            d2[rows] = d[ok]
            todo[rows] = False
    rest = np.flatnonzero(todo)
    if len(rest):
        sel[rest], d2[rest] = _topk(pxs[rest], pys[rest],
                                    fx0, fy0, fx1, fy1, k)
    return sel, d2


def _map_knn(points: DataFrame, rects: DataFrame, feats, index, k: int,
             px: str, py: str, point_keys: list[str] | None) -> DataFrame:
    """One mapInPandas over the points: point keys + feat_id + d2 +
    rank 1..min(k, features) per point."""
    point_keys = point_keys or ["page_id", "cand_i"]
    bc = points.sparkSession.sparkContext.broadcast((feats, index))
    pk_types = {f.name: f.dataType.simpleString()
                for f in points.schema.fields}
    feat_t = rects.schema["feat_id"].dataType.simpleString()
    out_schema = ", ".join(
        [f"`{c}` {pk_types[c]}" for c in point_keys]
        + [f"`feat_id` {feat_t}", "`d2` bigint", "`rank` int"])

    def topk(it):
        feats, index = bc.value
        kk = min(k, len(feats[0]))
        for pdf in it:
            n = len(pdf)
            if n == 0 or kk <= 0:
                continue
            sel, d2 = _knn_batch(pdf[px].to_numpy(dtype=np.float64),
                                 pdf[py].to_numpy(dtype=np.float64),
                                 feats, k, index)
            res = pdf.iloc[np.repeat(np.arange(n), kk)][point_keys] \
                .reset_index(drop=True)
            res["feat_id"] = feats[0][sel.ravel()].astype(
                _NP_INT.get(feat_t, np.int64))
            res["d2"] = d2.ravel()
            res["rank"] = np.tile(np.arange(1, kk + 1, dtype=np.int32), n)
            yield res

    return points.select(*point_keys, px, py).mapInPandas(topk, out_schema)


def knn_join_rects(points: DataFrame, rects: DataFrame, k: int = 3,
                   px: str = "px", py: str = "py",
                   point_keys: list[str] | None = None) -> DataFrame:
    """Brute-force kNN: every point ranked against the whole (broadcast)
    feature table; returns point keys + feat_id + d2 + rank 1..k."""
    feats = _collect_features(rects, "knn_join_rects")
    return _map_knn(points, rects, feats, None, k, px, py, point_keys)


def knn_join_pruned(points: DataFrame, rects: DataFrame, k: int = 3,
                    depth: int = 7, ring: int = 3,
                    px: str = "px", py: str = "py",
                    point_keys: list[str] | None = None) -> DataFrame:
    """Cell-pruned kNN, same output as `knn_join_rects`, in the same
    single mapInPandas pass.

    Completeness bound (exact for integral coordinates): with R = ring *
    res_at(depth), a feature whose R-dilated bbox does not cover the
    point's cell is farther than R from the point. So if the point has
    >= k candidates in its cell and its k-th d2 <= R², the candidate
    answer is the global answer. Points in sparse neighborhoods fail the
    check and are ranked against every feature in the same batch."""
    feats = _collect_features(rects, "knn_join_pruned")
    index = _cell_index(*feats[1:], depth, ring)
    return _map_knn(points, rects, feats, index, k, px, py, point_keys)

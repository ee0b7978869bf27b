"""Slab-decomposition polygon boolean kernel (pure numpy/Python).

One primitive — a vertical slab sweep over grid-snapped edges with
per-tag winding counts — implements the reference's whole areal-op
surface (SURVEY §2 A/H/I):

  ST_Union / dissolve        -> union_all            (designatedlands.py:102-113)
  ST_Intersection / clip     -> boolean 'and'        (designatedlands.py:82-99)
  ST_Difference              -> boolean 'diff'       (sql/ST_Safe_Difference.sql)
  ST_MakeValid / Safe_Repair -> boolean 'a' nonzero  (sql/ST_Safe_Repair.sql:32-59)
  ST_Polygonize + PIP rejoin -> planarize faces      (sql/create_designations_planarized.sql)
  ST_Area                    -> area / trapezoid sum

Method: snap coords to an integer grid (the reference leans on the
same snapping for robustness — SNAP constants in BASELINE.md); collect
directed non-vertical edges tagged by operand; slab boundaries at every
vertex x and every pairwise proper-crossing x; inside a slab edges are
y-ordered and constant, so cumulative per-tag winding between
consecutive edges gives exact coverage; covered gaps become trapezoids;
trapezoids are stitched back into rings (interior-on-left orientation:
CCW shells, CW holes) with quantized vertices so shared boundaries
cancel exactly.

Determinism: integer inputs, canonical edge ordering, sorted outputs —
results are independent of partitioning and input order, which is the
engine's substitute for PostGIS's single-writer semantics (SURVEY §7
"Determinism across partitionings").
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# vertex quantum for ring assembly (in snapped-int units): 2^-20
_Q = 1048576.0

# Lossy-fallback telemetry (SURVEY §2 I2/I3): the reference's safe-op
# ladders LOG when they fall back to a lossy repair
# (/root/reference/sql/ST_Safe_Difference.sql:70-80 NOTICEs). The slab
# kernel's analogue of a lossy event is a broken ring chain dropped
# during assembly (`break # defensive` below). Workers count drops
# here; operators drain the counter into a Spark accumulator so the
# pipeline can surface a cluster-wide lossy-fallback metric.
DROPPED_FRAGMENTS = 0


def pop_dropped_fragments() -> int:
    """Return and reset the worker-local dropped-fragment count."""
    global DROPPED_FRAGMENTS
    n = DROPPED_FRAGMENTS
    DROPPED_FRAGMENTS = 0
    return n


def rect_rings(x0: float, y0: float, x1: float, y1: float) -> list:
    return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                     dtype=np.float64)]


def area(rings: list) -> float:
    """Signed shoelace area sum over a ring list (CCW positive)."""
    tot = 0.0
    for r in rings:
        x, y = r[:, 0], r[:, 1]
        tot += 0.5 * (np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))
    return float(tot)


# ------------------------------------------------------------- edges

def _snap_ring(r: np.ndarray, grid: float) -> np.ndarray:
    pts = np.rint(np.asarray(r, dtype=np.float64) / grid).astype(np.int64)
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = (pts[1:] != pts[:-1]).any(axis=1)
    pts = pts[keep]
    if len(pts) >= 2 and (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    return pts


def _edges(tagged: list[tuple[int, list]], grid: float):
    """-> (x0, y0, x1, y1, w, tag) float64/int arrays; canonical x0<x1."""
    ex0, ey0, ex1, ey1, ws, tg = [], [], [], [], [], []
    for tag, rings in tagged:
        for r in rings:
            pts = _snap_ring(r, grid)
            n = len(pts)
            if n < 3:
                continue
            for i in range(n):
                ax, ay = pts[i]
                bx, by = pts[(i + 1) % n]
                if ax == bx:
                    continue  # vertical: no winding contribution
                if ax < bx:
                    ex0.append(ax); ey0.append(ay)
                    ex1.append(bx); ey1.append(by)
                    ws.append(1)
                else:
                    ex0.append(bx); ey0.append(by)
                    ex1.append(ax); ey1.append(ay)
                    ws.append(-1)
                tg.append(tag)
    if not ex0:
        z = np.zeros(0)
        return z, z, z, z, np.zeros(0, np.int64), np.zeros(0, np.int64)
    order = np.lexsort((np.asarray(ws), np.asarray(ey1), np.asarray(ex1),
                        np.asarray(ey0), np.asarray(ex0)))
    f = np.float64
    return (np.asarray(ex0, f)[order], np.asarray(ey0, f)[order],
            np.asarray(ex1, f)[order], np.asarray(ey1, f)[order],
            np.asarray(ws, np.int64)[order],
            np.asarray(tg, np.int64)[order])


def _crossing_xs(x0, y0, x1, y1) -> np.ndarray:
    """x-coords of proper pairwise crossings (chunked O(E^2) numpy).

    Fast path: a proper crossing needs two NON-parallel edges, so a
    single-slope edge set (e.g. any rectilinear input — only
    horizontal edges survive the vertical cull) has none. This skips
    the quadratic scan entirely for axis-aligned workloads."""
    e = len(x0)
    if e < 2:
        return np.zeros(0)
    slopes = (y1 - y0) / (x1 - x0)
    if slopes.min() == slopes.max():
        return np.zeros(0)
    out = []
    step = max(1, min(e, 2_000_000 // max(e, 1)))
    for s in range(0, e, step):
        sl = slice(s, min(s + step, e))
        ax0, ay0 = x0[sl, None], y0[sl, None]
        ax1, ay1 = x1[sl, None], y1[sl, None]
        bx0, by0 = x0[None, :], y0[None, :]
        bx1, by1 = x1[None, :], y1[None, :]
        cand = (np.maximum(ax0, bx0) < np.minimum(ax1, bx1))
        cand &= (np.maximum(np.minimum(ay0, ay1), np.minimum(by0, by1))
                 <= np.minimum(np.maximum(ay0, ay1), np.maximum(by0, by1)))
        if not cand.any():
            continue
        adx, ady = ax1 - ax0, ay1 - ay0
        bdx, bdy = bx1 - bx0, by1 - by0
        d1 = bdx * (ay0 - by0) - bdy * (ax0 - bx0)
        d2 = bdx * (ay1 - by0) - bdy * (ax1 - bx0)
        d3 = adx * (by0 - ay0) - ady * (bx0 - ax0)
        d4 = adx * (by1 - ay0) - ady * (bx1 - ax0)
        proper = cand & (d1 * d2 < 0) & (d3 * d4 < 0)
        if not proper.any():
            continue
        t = d1[proper] / (d1[proper] - d2[proper])
        ai, bi = np.nonzero(proper)
        xi = x0[sl][ai] + t * (x1[sl][ai] - x0[sl][ai])
        out.append(xi)
    return np.concatenate(out) if out else np.zeros(0)


@dataclass(slots=True)
class Trap:
    xa: float
    xb: float
    ya_b: float
    yb_b: float
    ya_t: float
    yb_t: float
    label: tuple = ()

    def area_units(self) -> float:
        return 0.5 * (self.xb - self.xa) * (
            (self.ya_t + self.yb_t) - (self.ya_b + self.yb_b))


_PREDICATES = {
    "a": lambda wa, wb: wa != 0,
    "or": lambda wa, wb: (wa != 0) | (wb != 0),
    "and": lambda wa, wb: (wa != 0) & (wb != 0),
    "diff": lambda wa, wb: (wa != 0) & (wb == 0),
    "xor": lambda wa, wb: (wa != 0) ^ (wb != 0),
}


def _sweep(tagged: list[tuple[int, list]], grid: float,
           predicate=None, labels: bool = False) -> list[Trap]:
    """Core sweep. predicate(wa, wb) mode emits coverage trapezoids for
    tags {0,1}; labels mode emits trapezoids labeled with the sorted
    tuple of tags having nonzero winding (planarize)."""
    x0, y0, x1, y1, w, tg = _edges(tagged, grid)
    if len(x0) == 0:
        return []
    xs = np.unique(np.concatenate([
        x0, x1, _crossing_xs(x0, y0, x1, y1)]))
    slope = (y1 - y0) / (x1 - x0)
    ntags = int(tg.max()) + 1 if labels else 2
    # incremental active set via add/remove events
    add_order = np.argsort(x0, kind="stable")
    rem_order = np.argsort(x1, kind="stable")
    ai = ri = 0
    active: set[int] = set()
    traps: list[Trap] = []
    for k in range(len(xs) - 1):
        xa, xb = xs[k], xs[k + 1]
        while ai < len(add_order) and x0[add_order[ai]] <= xa:
            active.add(int(add_order[ai])); ai += 1
        while ri < len(rem_order) and x1[rem_order[ri]] <= xa:
            active.discard(int(rem_order[ri])); ri += 1
        if xb <= xa or not active:
            continue
        idx = np.fromiter(active, dtype=np.int64, count=len(active))
        xm = 0.5 * (xa + xb)
        ym = y0[idx] + (xm - x0[idx]) * slope[idx]
        order = np.lexsort((slope[idx], ym))
        idx = idx[order]
        m = len(idx)
        if labels:
            # Labels mode is always vectorized: runs, the degeneracy
            # filter and the four y values are whole-slab array ops,
            # so Python touches only EMITTED traps. Most candidate runs
            # here are zero-height (coincident band edges: 96% on the
            # qa world), and a per-candidate label tuple and Trap would
            # be built only to be discarded. Run boundaries, label
            # values, emission order and the area>0 sign test are
            # bit-identical to a scalar walk (same IEEE ops, times the
            # positive 0.5*(xb-xa) factor only).
            if m < 2:
                continue
            mat = np.zeros((m, ntags), dtype=np.int64)
            mat[np.arange(m), tg[idx]] = w[idx]
            cum = np.cumsum(mat, axis=0)
            nz = cum != 0
            c = nz[: m - 1].any(axis=1)
            same = (nz[1: m - 1] == nz[: m - 2]).all(axis=1)
            brk = np.empty(m - 1, dtype=bool)
            brk[0] = True
            brk[1:] = ~c[:-1] | ~same
            starts = np.flatnonzero(c & brk)
            if not len(starts):
                continue
            term = np.empty(m - 1, dtype=bool)
            term[-1] = True
            term[:-1] = ~c[1:] | ~same
            ends = np.flatnonzero(c & term)
            eb, et = idx[starts], idx[ends + 1]
            yab = y0[eb] + (xa - x0[eb]) * slope[eb]
            ybb = y0[eb] + (xb - x0[eb]) * slope[eb]
            yat = y0[et] + (xa - x0[et]) * slope[et]
            ybt = y0[et] + (xb - x0[et]) * slope[et]
            pos = (yat + ybt) - (yab + ybb) > 0
            for k in np.flatnonzero(pos):
                traps.append(Trap(
                    xa, xb, yab[k], ybb[k], yat[k], ybt[k],
                    tuple(np.flatnonzero(cum[starts[k]]).tolist())))
            continue
        # predicate path — runs merge across ALL consecutive covered
        # intervals (no label test). Two emission forms on purpose: the
        # vectorized one wins on fat slabs (1.4x at 4000-feature
        # unions) but loses to the scalar loop on the small active
        # sets typical of per-(cell, key) dissolve groups (crossover
        # ~48 active edges). One merged run-finder was bit-identical
        # but 60% slower on small soups (ROADMAP #3), so both stay.
        if m < 2:
            continue
        wa = np.cumsum(np.where(tg[idx] == 0, w[idx], 0))
        wb = np.cumsum(np.where(tg[idx] == 1, w[idx], 0))
        if m >= 48:
            c = predicate(wa[: m - 1], wb[: m - 1])
            brk = np.empty(m - 1, dtype=bool)
            brk[0] = True
            brk[1:] = ~c[:-1]
            starts = np.flatnonzero(c & brk)
            if not len(starts):
                continue
            term = np.empty(m - 1, dtype=bool)
            term[-1] = True
            term[:-1] = ~c[1:]
            ends = np.flatnonzero(c & term)
            eb, et = idx[starts], idx[ends + 1]
            yab = y0[eb] + (xa - x0[eb]) * slope[eb]
            ybb = y0[eb] + (xb - x0[eb]) * slope[eb]
            yat = y0[et] + (xa - x0[et]) * slope[et]
            ybt = y0[et] + (xb - x0[et]) * slope[et]
            pos = (yat + ybt) - (yab + ybb) > 0
            for k in np.flatnonzero(pos):
                traps.append(Trap(xa, xb, yab[k], ybb[k],
                                  yat[k], ybt[k]))
            continue
        covered = np.zeros(m, dtype=bool)
        covered[: m - 1] = predicate(wa[: m - 1], wb[: m - 1])
        i = 0
        while i < m - 1:
            if not covered[i]:
                i += 1
                continue
            j = i
            while j + 1 < m - 1 and covered[j + 1]:
                j += 1
            eb, et = idx[i], idx[j + 1]
            tr = Trap(
                xa, xb,
                y0[eb] + (xa - x0[eb]) * slope[eb],
                y0[eb] + (xb - x0[eb]) * slope[eb],
                y0[et] + (xa - x0[et]) * slope[et],
                y0[et] + (xb - x0[et]) * slope[et])
            if tr.area_units() > 0:
                traps.append(tr)
            i = j + 1
    return traps


# -------------------------------------------------------- assembly

def _assemble(traps: list[Trap], grid: float) -> list:
    """Stitch trapezoids into rings (meters, CCW shells / CW holes)."""
    if not traps:
        return []
    from collections import Counter, defaultdict

    segs: Counter = Counter()

    def add(p0, p1):
        if p0 == p1:
            return
        if segs[(p1, p0)] > 0:
            segs[(p1, p0)] -= 1
        else:
            segs[(p0, p1)] += 1

    bounds: dict[float, list] = defaultdict(list)
    # quantize all six trap coords in ONE vectorized pass, rint(v *
    # _Q) / _Q elementwise (.tolist() round-trips float64 exactly)
    qarr = np.rint(np.array(
        [(t.xa, t.xb, t.ya_b, t.yb_b, t.ya_t, t.yb_t) for t in traps],
        dtype=np.float64) * _Q) / _Q
    # ROBUSTNESS (r7, found by the conservation fuzz): a proper
    # crossing whose float x lands within 2^-21 of a slab boundary
    # creates a sub-quantum sliver slab; its trap has ~1e-15 area (so
    # it passes the sweep's area>0 test) but quantizes to ZERO width
    # here, and its degenerate bottom/top segments masquerade as
    # verticals that break ring chains (the dropped-fragment path).
    # Dropping the whole sliver trap — segments AND vertical-boundary
    # events — restores the neighbors' correct topology at that x and
    # loses only the sub-quantum area (audit tolerance is 2e-3).
    qarr = qarr[qarr[:, 0] != qarr[:, 1]]
    for xa, xb, ya_b, yb_b, ya_t, yb_t in qarr.tolist():
        add((xa, ya_b), (xb, yb_b))        # bottom, +x (interior above)
        add((xb, yb_t), (xa, ya_t))        # top, -x (interior below)
        bounds[xa].append((ya_b, ya_t, +1))  # opens at xa
        bounds[xb].append((yb_b, yb_t, -1))  # closes at xb
    # vertical boundary pieces at each slab boundary x: covered-right
    # only -> upward is wrong; interior-on-left means:
    #   covered on RIGHT only (piece opens) -> downward? no:
    # heading up has interior west(left); so left-covered-only -> up.
    for x, ivals in bounds.items():
        events: dict[float, list[int]] = defaultdict(lambda: [0, 0])
        for ylo, yhi, side in ivals:
            s = 0 if side < 0 else 1  # 0: covered on left, 1: on right
            # ylo/yhi are already quantized above; _Q is a power of
            # two, so quantizing is exactly idempotent — no re-quantize
            events[ylo][s] += 1
            events[yhi][s] -= 1
        lc = rc = 0
        ys = sorted(events)
        for y0v, y1v in zip(ys, ys[1:]):
            lc += events[y0v][0]
            rc += events[y0v][1]
            if (lc > 0) and (rc == 0):
                add((x, y0v), (x, y1v))      # interior left -> up
            elif (rc > 0) and (lc == 0):
                add((x, y1v), (x, y0v))      # interior right -> down
    # link segments into rings, leftmost-turn rule at junctions
    out_edges: dict[tuple, list] = defaultdict(list)
    for (p0, p1), c in segs.items():
        for _ in range(c):
            out_edges[p0].append(p1)
    for v in out_edges.values():
        v.sort()
    rings = []
    import math
    while out_edges:
        start = min(out_edges)
        cur = start
        nxt = out_edges[cur][-1]
        ring = [cur]
        prev = cur
        cur = nxt
        _pop(out_edges, prev, cur)
        while cur != start:
            ring.append(cur)
            cands = out_edges.get(cur)
            if not cands:
                global DROPPED_FRAGMENTS
                DROPPED_FRAGMENTS += 1
                break  # defensive: broken chain, drop fragment
            if len(cands) == 1:
                nxt = cands[0]
            else:
                hx, hy = cur[0] - prev[0], cur[1] - prev[1]
                best, besta = None, -9.0
                for c in cands:
                    gx, gy = c[0] - cur[0], c[1] - cur[1]
                    ang = math.atan2(hx * gy - hy * gx, hx * gx + hy * gy)
                    if ang <= -math.pi + 1e-12:
                        ang = math.pi  # full U-turn counts as leftmost
                    if ang > besta:
                        best, besta = c, ang
                nxt = best
            _pop(out_edges, cur, nxt)
            prev, cur = cur, nxt
        else:
            arr = np.array(ring + [start], dtype=np.float64) * grid
            rings.append(arr)
            continue
    return rings


def _pop(out_edges, p0, p1):
    lst = out_edges[p0]
    lst.remove(p1)
    if not lst:
        del out_edges[p0]


# ------------------------------------------------------------- API

def boolean(rings_a: list, rings_b: list, op: str,
            grid: float = 0.1) -> list:
    """Polygon boolean; returns ring list in meters (CCW shells)."""
    traps = _sweep([(0, rings_a), (1, rings_b)], grid, _PREDICATES[op])
    return _assemble(traps, grid)


def boolean_area(rings_a: list, rings_b: list, op: str,
                 grid: float = 0.1) -> float:
    """Area of the boolean result in m^2 (no ring assembly — fast)."""
    traps = _sweep([(0, rings_a), (1, rings_b)], grid, _PREDICATES[op])
    return sum(t.area_units() for t in traps) * grid * grid


def union_all(ring_lists: list[list], grid: float = 0.1) -> list:
    """Dissolve: union of many polygons (ST_Union GROUP BY analogue)."""
    merged = [r for rl in ring_lists for r in rl]
    return boolean(merged, [], "a", grid)


def union_all_area(ring_lists: list[list], grid: float = 0.1) -> float:
    merged = [r for rl in ring_lists for r in rl]
    return boolean_area(merged, [], "a", grid)


def make_valid(rings: list, grid: float = 0.1) -> list:
    """ST_MakeValid / ST_Safe_Repair analogue: nonzero-winding rebuild
    (bowties split, self-intersections resolved, orientation fixed)."""
    return boolean(rings, [], "a", grid)


def intersection(a: list, b: list, grid: float = 0.1) -> list:
    return boolean(a, b, "and", grid)


def difference(a: list, b: list, grid: float = 0.1) -> list:
    return boolean(a, b, "diff", grid)


def clip_bbox(rings: list, bx0: float, by0: float, bx1: float,
              by1: float) -> list:
    """Fast ST_Intersection(geom, cell_bbox) for tiling (A3): vectorized
    Sutherland–Hodgman against each half-plane of the box. Non-convex
    subjects may gain zero-width bridges along the clip boundary; these
    are winding-neutral and harmless to every downstream kernel op
    (which rebuilds by winding)."""
    out = []
    for r in rings:
        pts = np.asarray(r, dtype=np.float64)
        if len(pts) and (pts[0] == pts[-1]).all():
            pts = pts[:-1]
        for axis, bound, keep_le in ((0, bx1, True), (0, bx0, False),
                                     (1, by1, True), (1, by0, False)):
            if len(pts) < 3:
                break
            v = pts[:, axis]
            inside = (v <= bound) if keep_le else (v >= bound)
            if inside.all():
                continue
            nxt = np.roll(np.arange(len(pts)), -1)
            res = []
            for i in range(len(pts)):
                j = nxt[i]
                if inside[i]:
                    res.append(pts[i])
                if inside[i] != inside[j]:
                    p, q = pts[i], pts[j]
                    t = (bound - p[axis]) / (q[axis] - p[axis])
                    ip = p + t * (q - p)
                    ip[axis] = bound
                    res.append(ip)
            pts = np.asarray(res) if res else np.zeros((0, 2))
        if len(pts) >= 3:
            out.append(np.vstack([pts, pts[:1]]))
    return out


def as_rect(rings: list):
    """(x0, y0, x1, y1) if the ring list is exactly one axis-aligned
    rectangle (4 rectilinear edges), else None. Fastpath detector for
    rect-rect intersection (the reference's coveredby-style CASE
    shortcuts, sql/intersect.sql:28-56)."""
    if len(rings) != 1:
        return None
    r = rings[0]
    if len(r) != 5 or not (r[0] == r[-1]).all():
        return None
    d = np.diff(r, axis=0)
    if not ((d[:, 0] == 0) | (d[:, 1] == 0)).all():
        return None  # diagonal edge (e.g. bowtie)
    x0, y0 = r[:, 0].min(), r[:, 1].min()
    x1, y1 = r[:, 0].max(), r[:, 1].max()
    if x1 <= x0 or y1 <= y0:
        return None
    # reject degenerate out-and-back rings (4 rectilinear edges but
    # zero enclosed area): |shoelace| must equal the bbox area
    if abs(area([r])) != (x1 - x0) * (y1 - y0):
        return None
    return float(x0), float(y0), float(x1), float(y1)


def rasterize_mask(rings: list, x0: float, y0: float, res: float,
                   nx: int, ny: int) -> np.ndarray:
    """B1 rasterize: bool mask of pixels whose CENTER lies inside the
    polygon (even-odd crossing test, vectorized one scanline-row batch
    at a time — the gdal_rasterize default center-sample rule,
    /root/reference/designatedlands.py:841-860)."""
    mask = np.zeros((ny, nx), dtype=bool)
    if not rings:
        return mask
    ex0 = np.concatenate([r[:-1, 0] for r in rings])
    ey0 = np.concatenate([r[:-1, 1] for r in rings])
    ex1 = np.concatenate([r[1:, 0] for r in rings])
    ey1 = np.concatenate([r[1:, 1] for r in rings])
    keep = ey0 != ey1
    ex0, ey0, ex1, ey1 = ex0[keep], ey0[keep], ex1[keep], ey1[keep]
    if len(ex0) == 0:
        return mask
    ys = y0 + (np.arange(ny) + 0.5) * res           # (ny,)
    cross = (ey0[None, :] <= ys[:, None]) != (ey1[None, :] <= ys[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = ex0 + (ys[:, None] - ey0) * (ex1 - ex0) / (ey1 - ey0)
    xs = x0 + (np.arange(nx) + 0.5) * res           # (nx,)
    e = len(ex0)
    if ny * e <= 4_000_000:
        # fully vectorized parity: for each crossing x-value v, the
        # first pixel-center index with v < center is
        # i0 = floor((v-x0)/res - 0.5) + 1; histogram i0 per row, then
        # a prefix sum gives #crossings strictly left of every center.
        t = np.floor((xi - x0) / res - 0.5) + 1
        i0 = np.clip(t, 0, nx).astype(np.int64)     # (ny, E)
        cnt = np.zeros((ny, nx + 1), dtype=np.int64)
        rows = np.broadcast_to(np.arange(ny)[:, None], (ny, e))
        np.add.at(cnt, (rows[cross], i0[cross]), 1)
        n_left = np.cumsum(cnt[:, :nx], axis=1)
        return (n_left & 1).astype(bool)
    for j in range(ny):
        cj = cross[j]
        if not cj.any():
            continue
        xc = np.sort(xi[j][cj])
        # parity of crossings strictly left of each pixel center
        cnt = np.searchsorted(xc, xs, side="left")
        mask[j] = (cnt & 1).astype(bool)
    return mask


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list,
                    ) -> np.ndarray:
    """Vectorized NONZERO-WINDING point containment test (VERDICT r3
    #3): True where (px[i], py[i]) lies inside the polygon described by
    `rings` — the exact-predicate refine the reference's joins run as
    ST_Intersects/ST_Contains (/root/reference/sql/tile.sql:52,
    create_designations_planarized.sql:60-61). Nonzero winding matches
    the slab kernel's coverage semantics (`_PREDICATES['a']`), so a
    point is "inside" exactly when it falls in a face the kernel's
    booleans would emit.

    Winding number via signed horizontal-ray crossings: for each
    directed edge crossing the ray y = py, add +1 when the edge goes
    upward and passes left->right of the point, -1 downward. Points
    exactly on an edge are resolved by the half-open crossing rule
    (y0 <= py < y1); gate fixtures are designed boundary-free (see
    sqlgen.tris_ctes), so the rule never decides a gate row.

    Vectorized over BOTH points and edges: O(P x E) numpy ops per call
    — callers batch candidate pairs per cell, where E is the handful
    of edges of one dimension feature."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    wn = np.zeros(len(px), dtype=np.int64)
    for r in rings:
        x0, y0 = r[:-1, 0], r[:-1, 1]
        x1, y1 = r[1:, 0], r[1:, 1]
        keep = y0 != y1
        if not keep.any():
            continue
        x0, y0, x1, y1 = x0[keep], y0[keep], x1[keep], y1[keep]
        # upward crossing: y0 <= py < y1 (half-open); downward mirrored
        up = (y0[None, :] <= py[:, None]) & (py[:, None] < y1[None, :])
        dn = (y1[None, :] <= py[:, None]) & (py[:, None] < y0[None, :])
        hit = up | dn
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (py[:, None] - y0[None, :]) / (y1[None, :] - y0[None, :])
            xc = x0[None, :] + t * (x1[None, :] - x0[None, :])
        left = hit & (px[:, None] < xc)
        wn += (up & left).sum(axis=1) - (dn & left).sum(axis=1)
    return wn != 0


def _hull(pts: np.ndarray) -> np.ndarray:
    """Convex hull (Andrew monotone chain), CCW, closed ring."""
    pts = np.unique(pts, axis=0)  # lexsorted
    if len(pts) <= 2:
        return np.vstack([pts, pts[:1]])

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    ring = np.array(lower[:-1] + upper[:-1], dtype=np.float64)
    return np.vstack([ring, ring[:1]])


def dilate(rings: list, r: float, grid: float = 0.1) -> list:
    """Positive buffer — Minkowski sum with the axis-aligned square of
    half-width `r` (the ST_Buffer analogue for the reference's uses:
    +0.001 topology cleaning, blocker dilation, the 250 m north border
    buffer — /root/reference/sql/insert_difference.sql:104-106,
    create_tiles.sql:68. Square, not disc: every reference use buffers
    by a tolerance where the structuring element's shape is immaterial,
    and the square keeps areas exact on the snap grid).

    Method: slab-decompose the input's covered region into trapezoids
    (nonzero winding — invalid inputs repair for free), Minkowski each
    CONVEX trapezoid with the square (= convex hull of its 4 vertices
    offset to the 4 square corners), union the hulls. Minkowski
    distributes over union, so the union of per-trap sums IS the
    dilation of the whole region."""
    if r < 0:
        return erode(rings, -r, grid)
    traps = _sweep([(0, rings)], grid, _PREDICATES["a"])
    if not traps:
        return []
    g = grid
    hulls = []
    for t in traps:
        vs = np.array([
            [t.xa * g, t.ya_b * g], [t.xa * g, t.ya_t * g],
            [t.xb * g, t.yb_b * g], [t.xb * g, t.yb_t * g]])
        offs = np.array([[-r, -r], [-r, r], [r, -r], [r, r]])
        hulls.append(_hull((vs[:, None, :] + offs[None, :, :])
                           .reshape(-1, 2)))
    return boolean(hulls, [], "a", grid)


def erode(rings: list, r: float, grid: float = 0.1) -> list:
    """Negative buffer via complement duality: erode(P, r) =
    F \\ dilate(F \\ P, r) for any frame F whose boundary stays >= r
    away from P (F = bbox expanded by 2r + one grid cell). With dilate
    this gives closing (fill gaps/slivers narrower than 2r — the
    reference's ST_Buffer(+t)/ST_Buffer(-t) cleaning ladder) and
    opening (drop slivers)."""
    if r < 0:
        return dilate(rings, -r, grid)
    if not rings:
        return []
    allp = np.vstack([np.asarray(rg, dtype=np.float64) for rg in rings])
    pad = 2.0 * r + grid
    fx0, fy0 = allp[:, 0].min() - pad, allp[:, 1].min() - pad
    fx1, fy1 = allp[:, 0].max() + pad, allp[:, 1].max() + pad
    frame = rect_rings(fx0, fy0, fx1, fy1)
    comp = boolean(frame, rings, "diff", grid)
    dcomp = dilate(comp, r, grid)
    return boolean(frame, dcomp, "diff", grid)


def buffer_rings(rings: list, r: float, grid: float = 0.1) -> list:
    """ST_Buffer analogue: signed offset (square structuring element).
    r > 0 dilates, r < 0 erodes, r == 0 repairs (nonzero rebuild)."""
    if r == 0:
        return make_valid(rings, grid)
    return dilate(rings, r, grid) if r > 0 else erode(rings, -r, grid)


@dataclass
class Face:
    labels: tuple       # sorted tag ids covering this face
    rings: list         # meters
    area_m2: float
    rep_x: float        # representative interior point
    rep_y: float


def planarize(tagged: list[tuple[int, list]], grid: float = 0.1,
              with_rings: bool = True) -> list[Face]:
    """Faces of the arrangement of all input polygons, each labeled with
    the set of covering tags — the flagship planarize op (SURVEY §2 A7).
    Connected components via trapezoid adjacency (shared slab boundary
    with positive vertical overlap and identical label)."""
    traps = _sweep(tagged, grid, labels=True)
    if not traps:
        return []
    n = len(traps)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(i, j):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[rj] = ri

    from collections import defaultdict
    by_xa = defaultdict(list)
    for i, t in enumerate(traps):
        by_xa[t.xa].append(i)
    for j, t in enumerate(traps):
        for i in by_xa.get(t.xb, ()):
            o = traps[i]
            if o.label != t.label:
                continue
            lo = max(t.yb_b, o.ya_b)
            hi = min(t.yb_t, o.ya_t)
            if hi > lo:
                union(i, j)
    comps = defaultdict(list)
    for i in range(n):
        comps[find(i)].append(i)
    # one area_units() per trap (was 2x: the sum and the max key)
    areas = [t.area_units() for t in traps]
    faces = []
    for ids in comps.values():
        ts = [traps[i] for i in ids]
        a = sum(areas[i] for i in ids) * grid * grid
        big = traps[max(ids, key=areas.__getitem__)]
        rx = 0.5 * (big.xa + big.xb) * grid
        ry = 0.25 * (big.ya_b + big.yb_b + big.ya_t + big.yb_t) * grid
        rings = _assemble(ts, grid) if with_rings else []
        faces.append(Face(ts[0].label, rings, a, rx, ry))
    faces.sort(key=lambda f: (f.labels, f.rep_x, f.rep_y))
    return faces

"""Skew handling (north rule: "salting for skewed tiles").

Hot coastal cells concentrate features (FIXTURES §3(c)); a plain
groupBy(cell) dissolve puts a whole hot cell in one task. Two levers:

  * `dissolve_salted`: two-phase dissolve — partial union per
    (keys, salt), then final union per keys. Union is associative on
    grid-snapped inputs, so the result is identical to the one-phase
    dissolve (asserted in tests). salt = deterministic hash of a
    distinguishing column, NOT random — results must be reproducible.
  * `subdivide`: ST_Subdivide analogue (designatedlands.py:674-679) —
    recursively halve a geometry's bbox until each part has at most
    `max_vertices` vertices, bounding per-row kernel cost before
    tiling. Parts are winding-preserving bbox clips, so downstream
    dissolve/planarize see identical coverage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..geom import kernel as K
from ..geom import wkb
from .overlay import GRID, dissolve


def dissolve_salted(df: DataFrame, keys: list[str], salt_col: str,
                    salt_k: int = 8, geom: str = "geom",
                    grid: float = GRID) -> DataFrame:
    """Two-phase dissolve for skewed key groups: map-side-style partial
    union per (keys, salt(hash(salt_col) % k)) then final merge. One
    extra (much smaller) shuffle buys hot-group parallelism."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(salt_k)))
    partial = dissolve(salted, keys + ["_salt"], geom=geom, grid=grid)
    return dissolve(partial.drop("_salt"), keys, geom=geom, grid=grid)


# Measured salt/plain crossover (BENCH/BASELINE.md 'Hot-cell skew'):
# at 4k features/group the salted form is 0.86x (extra shuffle wins),
# at 16k it is 3.29x. The default sits just above the measured
# break-even.
SALT_CROSSOVER = 6000


def dissolve_auto(df: DataFrame, keys: list[str], salt_col: str,
                  salt_k: int = 8, threshold: int = SALT_CROSSOVER,
                  geom: str = "geom", grid: float = GRID) -> DataFrame:
    """MEASURED-DEFAULT dissolve (VERDICT r4 #4): read the group-size
    histogram with one lightweight count-only aggregation (map-side
    partial counts, |groups| rows, a single max to the driver — no
    geometry touched), then dispatch: plain one-phase dissolve when
    every group is under the measured salt crossover, two-phase salted
    dissolve when any group exceeds it. Results are identical either
    way (grid-snapped union is associative; pytest-pinned).

    The histogram job executes the upstream plan once before the
    dissolve does — callers with expensive un-persisted upstreams
    should persist them first, or call dissolve/dissolve_salted
    directly if they already know the skew shape."""
    mx = (df.groupBy(*keys).count()
            .agg(F.max("count").alias("mx")).collect()[0]["mx"])
    if mx is None or mx <= threshold:
        return dissolve(df, keys, geom=geom, grid=grid)
    return dissolve_salted(df, keys, salt_col, salt_k=salt_k,
                           geom=geom, grid=grid)


def subdivide(df: DataFrame, max_vertices: int = 128,
              geom: str = "geom") -> DataFrame:
    """Split complex geometries until each part has <= max_vertices
    vertices (ST_Subdivide). Emits one row per part (part_i).
    max_vertices >= 5, as in PostGIS — a bbox halving of a quad yields
    quads, so smaller budgets cannot terminate."""
    if max_vertices < 5:
        raise ValueError("max_vertices must be >= 5 (PostGIS parity)")
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in df.schema.fields] + ["part_i int"])

    def split_one(rings: list) -> list[list]:
        n = sum(len(r) - 1 for r in rings)
        if n <= max_vertices:
            return [rings]
        xs = np.concatenate([r[:, 0] for r in rings])
        ys = np.concatenate([r[:, 1] for r in rings])
        x0, x1 = float(xs.min()), float(xs.max())
        y0, y1 = float(ys.min()), float(ys.max())
        # Split point snapped to integer meters (when the box allows):
        # keeps integral-coordinate inputs integral through arbitrary
        # recursion depth, so downstream kernel snapping is exact.
        def mid(lo, hi):
            m = np.rint(0.5 * (lo + hi))
            return m if lo < m < hi else 0.5 * (lo + hi)

        if (x1 - x0) >= (y1 - y0):
            xm = mid(x0, x1)
            halves = [(x0, y0, xm, y1), (xm, y0, x1, y1)]
        else:
            ym = mid(y0, y1)
            halves = [(x0, y0, x1, ym), (x0, ym, x1, y1)]
        out = []
        for bb in halves:
            part = K.clip_bbox(rings, *bb)
            if part and abs(K.area(part)) > 0:
                out.extend(split_one(part))
        return out

    def batches(it):
        # Columnar row assembly: one pdf.iloc[src] per batch instead
        # of a per-part Python dict (the column-list pattern of
        # overlay._tile).
        for pdf in it:
            src, geoms, parts = [], [], []
            for i in range(len(pdf)):
                rings = wkb.parse_rings(bytes(pdf[geom].iloc[i]))
                for j, part in enumerate(split_one(rings)):
                    src.append(i)
                    geoms.append(wkb.rings_wkb(part))
                    parts.append(j)
            res = pdf.iloc[src].reset_index(drop=True)
            res[geom] = pd.Series(geoms, dtype="object")
            res["part_i"] = pd.Series(parts, dtype="int32")
            yield res

    return df.mapInPandas(batches, out_schema)

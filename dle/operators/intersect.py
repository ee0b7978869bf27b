"""Generic pairwise spatial overlay (SURVEY §2 A8) — the reference's
user-facing `overlay IN OUT` entry point (designatedlands.py:1002-1090).

Output schema = columns_a ∪ columns_b (+ geom), with the reference's
collision and reserved-name guards (designatedlands.py:1017-1028).
Physical plan: tile both sides by cell, cell equi-join, then a
cogrouped kernel refine (bbox prefilter -> safe intersection), and the
empty-geometry purge (designatedlands.py:1076-1082).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import DEFAULT_DEPTH
from ..geom import kernel as K
from ..geom import wkb
from .overlay import GRID, tile_geoms

RESERVED = {"cell", "geom", "part_i"}


def spatial_overlay(df_a: DataFrame, df_b: DataFrame,
                    depth: int = DEFAULT_DEPTH, geom: str = "geom",
                    grid: float = GRID) -> DataFrame:
    """Intersect every A feature with every B feature it overlaps;
    one output row per intersecting pair with both attribute sets."""
    a_cols = [c for c in df_a.columns if c != geom]
    b_cols = [c for c in df_b.columns if c != geom]
    dup = (set(a_cols) & set(b_cols)) - RESERVED
    if dup:
        raise ValueError(
            f"column collision between inputs: {sorted(dup)} "
            "(rename before overlay — designatedlands.py:1017-1022)")
    bad = (set(a_cols) | set(b_cols)) & (RESERVED - {"cell"})
    if bad:
        raise ValueError(f"reserved columns in input: {sorted(bad)}")

    a = tile_geoms(df_a, depth, geom, grid)
    b = tile_geoms(df_b, depth, geom, grid) \
        .withColumnRenamed(geom, "_geom_b")

    out_fields = (
        [f"`{c}` {df_a.schema[c].dataType.simpleString()}"
         for c in a_cols]
        + [f"`{c}` {df_b.schema[c].dataType.simpleString()}"
           for c in b_cols]
        + ["cell string", f"`{geom}` binary"])
    out_schema = ", ".join(out_fields)
    cols = a_cols + b_cols + ["cell", geom]

    def refine(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame):
        empty = pd.DataFrame({c: [] for c in cols})
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return empty
        b_rings = [wkb.parse_rings(bytes(g)) for g in b_pdf["_geom_b"]]
        b_rect = [K.as_rect(rs) for rs in b_rings]
        b_bb = np.array([[min(r[:, 0].min() for r in rs),
                          min(r[:, 1].min() for r in rs),
                          max(r[:, 0].max() for r in rs),
                          max(r[:, 1].max() for r in rs)]
                         for rs in b_rings])
        ii, jj, geoms = [], [], []
        for i in range(len(a_pdf)):
            a_rings = wkb.parse_rings(bytes(a_pdf[geom].iloc[i]))
            a_rect = K.as_rect(a_rings)
            ax0 = min(r[:, 0].min() for r in a_rings)
            ay0 = min(r[:, 1].min() for r in a_rings)
            ax1 = max(r[:, 0].max() for r in a_rings)
            ay1 = max(r[:, 1].max() for r in a_rings)
            hit = ((b_bb[:, 0] < ax1) & (b_bb[:, 2] > ax0)
                   & (b_bb[:, 1] < ay1) & (b_bb[:, 3] > ay0))
            for j in np.flatnonzero(hit):
                if a_rect is not None and b_rect[j] is not None:
                    # rect-rect fastpath (reference's CASE shortcuts,
                    # sql/intersect.sql:28-56): clip = bbox overlap
                    ix0 = max(a_rect[0], b_rect[j][0])
                    iy0 = max(a_rect[1], b_rect[j][1])
                    ix1 = min(a_rect[2], b_rect[j][2])
                    iy1 = min(a_rect[3], b_rect[j][3])
                    if ix1 <= ix0 or iy1 <= iy0:
                        continue
                    # same grid snap the kernel would apply
                    ix0, iy0, ix1, iy1 = (
                        round(v / grid) * grid
                        for v in (ix0, iy0, ix1, iy1))
                    if ix1 <= ix0 or iy1 <= iy0:
                        continue
                    inter = K.rect_rings(ix0, iy0, ix1, iy1)
                else:
                    inter = K.intersection(a_rings, b_rings[j], grid)
                    if not inter or K.area(inter) <= 0:
                        continue  # ST_IsEmpty purge
                ii.append(i)
                jj.append(int(j))
                geoms.append(wkb.rings_wkb(inter))
        if not ii:
            return empty
        # vectorized assembly: batch iloc + concat instead of per-row
        # dicts (the hot loop of the generic overlay)
        res_a = a_pdf.iloc[ii][a_cols].reset_index(drop=True)
        res_b = b_pdf.iloc[jj][b_cols].reset_index(drop=True)
        res = pd.concat([res_a, res_b], axis=1)
        res["cell"] = key[0]
        res[geom] = geoms
        return res[cols]

    return (a.groupBy("cell").cogroup(b.groupBy("cell"))
            .applyInPandas(refine, out_schema))

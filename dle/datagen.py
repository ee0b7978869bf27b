"""WKB feature generation for the overlay pipeline (FIXTURES.md §3-§4).

Derives polygon designation layers from the same arithmetic rectangle
specs as sqlgen.layers_ctes (single source of truth for placement), then
adds the kernel-exercising irregularities FIXTURES.md asks for:

  * 1-in-7 features rotated about their center (non-axis-aligned)
  * 1-in-97 features turned into invalid bowties (exercises safe_repair)
  * the land boundary is a big polygon with a ragged west edge and two
    interior holes (designatedlands.py:624-721 analogue)

Everything is deterministic from feat_id; no randomness, no I/O.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType

from . import sqlgen
from .config import XMIN, YMIN
from .geom import wkb


def _rect_pts(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                    dtype=np.float64)


def _feature_wkb(feat_id: int, r5: int, x0: float, y0: float,
                 x1: float, y1: float) -> bytes:
    if feat_id % 97 == 0:
        # invalid bowtie: crossed quad
        pts = np.array([[x0, y0], [x1, y1], [x1, y0], [x0, y1], [x0, y0]],
                       dtype=np.float64)
        return wkb.polygon_wkb([pts])
    pts = _rect_pts(x0, y0, x1, y1)
    if feat_id % 7 == 3:
        theta = (r5 % 628) / 100.0
        c, s = np.cos(theta), np.sin(theta)
        ctr = np.array([(x0 + x1) / 2, (y0 + y1) / 2])
        pts = (pts - ctr) @ np.array([[c, -s], [s, c]]).T + ctr
    return wkb.polygon_wkb([pts])


_wkb_udf = F.pandas_udf(
    lambda fid, r5, x0, y0, x1, y1: pd.Series(
        [_feature_wkb(int(f), int(r), a, b, c, d)
         for f, r, a, b, c, d in zip(fid, r5, x0, y0, x1, y1)]),
    BinaryType())


def layers_poly(spark: SparkSession, sf_dir: str,
                n_orders: int = 8) -> DataFrame:
    """Designation features as WKB polygons + registry columns.
    Lazy plan memoized per (session, dir, n_orders) — sqlgen.memo_frame;
    every action recomputes from parquet."""
    def build():
        sqlgen.register_tables(spark, sf_dir)
        pre = sqlgen.preamble("spark", pages=False, n_orders=n_orders)
        df = spark.sql(pre + """
 select l.feat_id, l.process_order, l.designation, l.src_id, l.src_name,
        l.x0, l.y0, l.x1, l.y1,
        l.forest_restriction, l.og_restriction, l.mine_restriction,
        r.r5
 from layers l join _l4 r on r.feat_id = l.feat_id""")
        df = df.withColumn(
            "geom", _wkb_udf("feat_id", "r5", "x0", "y0", "x1", "y1"))
        return df.drop("r5")
    return sqlgen.memo_frame(spark, sf_dir, ("layers_poly", n_orders),
                             build)


def tris_poly(spark: SparkSession, sf_dir: str,
              n_orders: int = 8) -> DataFrame:
    """Right-triangle designation features as WKB (the non-rectangular
    layer fixture — see sqlgen.tris_ctes for the boundary-free
    construction). orient 0 keeps the lower-left half of the bbox,
    orient 1 the upper-right half."""
    def build():
        sqlgen.register_tables(spark, sf_dir)
        df = spark.sql(
            sqlgen.preamble("spark", pages=False, layers=False,
                            tris=True, n_orders=n_orders)
            + " select * from tris")
        return df.withColumn(
            "geom", _tri_wkb_udf("orient", "x0", "y0", "x1", "y1"))
    return sqlgen.memo_frame(spark, sf_dir, ("tris_poly", n_orders),
                             build)


def _tri_wkb(orient, x0, y0, x1, y1):
    out = []
    for o, a, b, c, d in zip(orient, x0, y0, x1, y1):
        if int(o) == 0:
            pts = np.array([[a, b], [c, b], [a, d], [a, b]],
                           dtype=np.float64)
        else:
            pts = np.array([[c, b], [c, d], [a, d], [c, b]],
                           dtype=np.float64)
        out.append(wkb.polygon_wkb([pts]))
    return pd.Series(out)


_tri_wkb_udf = F.pandas_udf(_tri_wkb, BinaryType())


def _coast_rings():
    """The boundary fixture's rings: a CCW shell covering ~70% of the
    extent with a ragged (sawtooth) west coast, and two interior
    rectangles (CCW, as standalone polygons)."""
    east = XMIN + 1_400_000.0
    south = YMIN + 30_000.0
    north = YMIN + 1_300_000.0
    west_base = XMIN + 60_000.0
    pts = [(east, south), (east, north)]
    # ragged west edge: sawtooth from north to south
    n_teeth = 24
    ys = np.linspace(north, south, n_teeth + 1)
    for i, y in enumerate(ys):
        amp = 40_000.0 if i % 2 == 0 else 110_000.0
        pts.append((west_base + amp, float(y)))
    pts.append((east, south))
    shell = np.array(pts, dtype=np.float64)
    if wkb.ring_area(shell) < 0:
        shell = shell[::-1]
    rect1 = _rect_pts(XMIN + 500_000, YMIN + 500_000,
                      XMIN + 600_000, YMIN + 620_000)
    rect2 = _rect_pts(XMIN + 900_000, YMIN + 200_000,
                      XMIN + 1_000_000, YMIN + 260_000)
    return shell, rect1, rect2


def boundary_land(spark: SparkSession) -> DataFrame:
    """bc_boundary_land analogue: the coast shell with the two
    rectangles as interior holes."""
    shell, rect1, rect2 = _coast_rings()
    buf = wkb.polygon_wkb([shell, rect1[::-1], rect2[::-1]])
    return spark.createDataFrame(
        [("bc_boundary_land", bytearray(buf))],
        "bc_boundary string, geom binary")


def boundary_pieces(spark: SparkSession) -> DataFrame:
    """RAW inputs for the A9 boundary build (designatedlands.py:624-721
    analogue): the coast shell as a 'land' piece plus the two
    rectangles as 'marine' pieces that claim space FIRST — the composed
    result's land class has identical coverage to boundary_land
    (plans.boundary.build_boundary does the composition)."""
    shell, rect1, rect2 = _coast_rings()
    rows = [
        ("marine", 1, bytearray(wkb.polygon_wkb([rect1]))),
        ("marine", 1, bytearray(wkb.polygon_wkb([rect2]))),
        ("land", 2, bytearray(wkb.polygon_wkb([shell]))),
    ]
    return spark.createDataFrame(
        rows, "cls string, process_order int, geom binary")


def bands_1d(spark: SparkSession, sf_dir: str,
             n_orders: int = 8) -> DataFrame:
    """Same-y-band overlapping intervals per designation: the engine
    dissolves them as real 2-D WKB polygons; the DuckDB oracle computes
    the same union area as 1-D interval islands (gate-checkable
    dissolve, SURVEY §5)."""
    def build():
        sqlgen.register_tables(spark, sf_dir)
        df = spark.sql(
            sqlgen.preamble("spark", pages=False, layers=False,
                            bands=True, n_orders=n_orders)
            + " select * from bands")
        to_wkb = F.pandas_udf(
            lambda x0, y0, x1, y1: pd.Series(
                [wkb.polygon_wkb([_rect_pts(a, b, c, d)])
                 for a, b, c, d in zip(x0, y0, x1, y1)]),
            BinaryType())
        return df.withColumn("geom", to_wkb("bx0", "by0", "bx1", "by1"))
    return sqlgen.memo_frame(spark, sf_dir, ("bands_1d", n_orders),
                             build)

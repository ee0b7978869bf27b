"""End-to-end vector pipeline — the `process-vector` analogue
(SURVEY §3.1): designation layers -> land clip + attribute stamping
(A4) -> precedence overlay (A5) -> planarize (A7) -> QA frames.

Precedence is the per-cell fold `insert_difference_fused`: tiled
layers never interact across cells, so the reference's layer-serial
loop (/root/reference/designatedlands.py:693-707) runs as one grouped
UDF over all cells. With `ckpt_root` it is one `checkpoint.run_stage`
stage, committed and resumed whole.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import datagen
from ..config import DEFAULT_DEPTH
from ..operators.overlay import (
    clip, dissolve, insert_difference_fused, planarize, with_area,
)
from ..sqlgen import dir_fingerprint
from .checkpoint import Manifest, run_stage

REG_KEYS = ["designation", "src_id", "src_name", "process_order",
            "forest_restriction", "og_restriction", "mine_restriction"]


@dataclass
class VectorOutputs:
    layers: DataFrame
    boundary_tiled: DataFrame
    overlapping: DataFrame     # A4: land-clipped, attribute-stamped
    designatedlands: DataFrame  # A5: non-overlapping precedence layer
    planarized: DataFrame      # A7: faces w/ attribute arrays


def process_vector(spark: SparkSession, sf_dir: str,
                   depth: int = DEFAULT_DEPTH,
                   ckpt_root: str | None = None,
                   n_orders: int = 8) -> VectorOutputs:
    """The pipeline's frames at quadtree `depth`. For depth > 1 the
    layers tile on the reference's two-scale grid: the composed
    boundary's LAND cells define where the grid is fine
    (create_tiles.sql:45-63 keeps 1:20k tiles on land, 1:250k at sea),
    and layer features tile at depth ``max(1, depth - 2)`` outside
    those cells, so marine-heavy features never explode into fine
    cells the land clip would only discard. Output equals single-depth
    tiling (pytest-pinned at the clip) — coarse pieces are exactly the
    ones with no land overlap."""
    layers = datagen.layers_poly(spark, sf_dir, n_orders=n_orders)
    # A9: compose bc_boundary from raw pieces (marine union + subdivide
    # + tile + precedence insert — designatedlands.py:624-721) instead
    # of fabricating the finished polygon.
    from .boundary import build_boundary
    composed = build_boundary(spark, datagen.boundary_pieces(spark),
                              depth)
    boundary_t = composed.where(F.col("cls") == "land") \
        .select("cell", "geom")

    # Two-scale grid spec: the coarse cells that contain ANY land are
    # refined to fine depth; everything else stays coarse. Driver-side
    # distinct over coarse prefixes of the (already fine-tiled) land
    # boundary — bounded by 4^coarse_depth rows.
    if depth > 1:
        cd = max(1, depth - 2)
        fine_cells = {r["p"] for r in boundary_t.select(
            F.col("cell").substr(1, cd).alias("p")).distinct().collect()}
    else:
        cd, fine_cells = None, None

    # A4 create_designations_overlapping: clip each layer to land, then
    # dissolve per (registry attrs, cell) — constants stamped from the
    # registry ride along as group keys
    # (/root/reference/sql/create_designations_overlapping.sql:22-67).
    clipped = clip(layers.select(*REG_KEYS, "geom"), boundary_t, depth,
                   b_tiled=True, fine_cells=fine_cells,
                   coarse_depth=cd)
    overlapping = dissolve(clipped, ["cell"] + REG_KEYS)

    # A5/A6 precedence in ascending process_order. The fold unions
    # each (cell, designation, process_order) group before it
    # differences — the reference's aggregated_insert_difference
    # (sql/aggregated_insert_difference.sql:16-30) — so two same-layer
    # features with different src_id never overlap in the output.
    def precedence():
        return insert_difference_fused(overlapping.select(
            "cell", "designation", "process_order", "geom"))

    if ckpt_root is None:
        designatedlands = precedence()
    else:
        # Cluster-safe and resumable: the fold commits to reliable
        # storage, and a rerun whose stage record matches folds
        # nothing. Every input that shapes the output must
        # fingerprint, the parquet content included, or a resume
        # against different data reloads a stale stage.
        designatedlands = run_stage(
            spark, Manifest(f"{ckpt_root}/manifest"), "precedence",
            f"{sf_dir}|{dir_fingerprint(sf_dir)}|depth={depth}"
            f"|orders={n_orders}|v4",
            precedence, ckpt_root)

    # A7 planarize.
    planarized = planarize(overlapping, boundary_t)

    return VectorOutputs(layers, boundary_t, overlapping,
                         designatedlands, planarized)


QA_CLASSES = ("forest", "og", "mine")


@dataclass
class QAFrames:
    totals: DataFrame      # one row: land_m2, planarized_m2
    compare: DataFrame     # designation, overlapping_m2, planarized_m2
    class_sums: DataFrame  # cls, level, area_m2


def qa_frames(land: DataFrame, overlapping: DataFrame,
              planarized: DataFrame) -> QAFrames:
    """The reference's QA checks (its sql/qa.sql) as lazy
    frames of unrounded m2 sums, each holding when its columns agree:

      totals      — land area vs summed face area (:42-43)
      compare     — qa_compare (:8-38): per designation, the overlapping
                    area dissolved per (cell, designation) vs the area
                    of the faces whose designation array contains it,
                    the reference's `o.designation && p.designation`
                    as an arrays_overlap join (E7); a designation on
                    one side only reads 0 on the other
      class_sums  — per restriction class and level, face area; each
                    class's levels partition the land (:190-213)
    """
    land_m2 = with_area(land).agg(F.sum("area_m2").alias("land_m2"))
    plan_m2 = planarized.agg(F.sum("area_m2").alias("planarized_m2"))

    over = with_area(dissolve(
        overlapping.select("cell", "designation", "geom"),
        ["cell", "designation"])) \
        .groupBy("designation").agg(F.sum("area_m2").alias("overlapping_m2"))
    dim = overlapping.select(F.col("designation").alias("d")).distinct()
    plan = (planarized.join(F.broadcast(dim),
                            F.expr("arrays_overlap(designation, array(d))"))
            .groupBy(F.col("d").alias("designation"))
            .agg(F.sum("area_m2").alias("planarized_m2")))
    compare = over.join(plan, "designation", "full") \
        .fillna(0.0, ["overlapping_m2", "planarized_m2"])

    stacked = planarized.select(
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("cls"),
                     F.col(f"{c}_restriction_max").alias("level"))
            for c in QA_CLASSES])).alias("e"),
        "area_m2")
    class_sums = stacked.groupBy(
        F.col("e.cls").alias("cls"), F.col("e.level").alias("level")) \
        .agg(F.sum("area_m2").alias("area_m2"))
    return QAFrames(land_m2.crossJoin(plan_m2), compare, class_sums)

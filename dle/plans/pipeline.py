"""End-to-end vector pipeline — the `process-vector` analogue
(SURVEY §3.1): designation layers -> land clip + attribute stamping
(A4) -> precedence overlay (A5) -> planarize (A7) -> qa rollups.

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


def qa_rollups(out: VectorOutputs) -> dict:
    """The reference's golden QA invariants as numbers
    (/root/reference/sql/qa.sql):

      total_land        — dissolved land-boundary area (ha)
      total_planarized  — sum of face areas (must ~= total_land, :42-43)
      per_designation   — overlapping vs precedence area per designation
      per_class_sums    — per restriction class, sum over levels of face
                          area (each must ~= total_land, :190-213)
    """
    land = with_area(out.boundary_tiled)
    total_land = land.agg(F.sum("area_m2")).collect()[0][0] / 1e4

    total_plan = out.planarized.agg(
        F.sum("area_m2")).collect()[0][0] / 1e4

    over = with_area(out.overlapping).groupBy("designation").agg(
        (F.sum("area_m2") / 1e4).alias("overlapping_ha"))
    prec = with_area(out.designatedlands).groupBy("designation").agg(
        (F.sum("area_m2") / 1e4).alias("precedence_ha"))
    per_desig = {
        r["designation"]: (r["overlapping_ha"], r["precedence_ha"])
        for r in over.join(prec, "designation", "outer").collect()}

    per_class = {}
    for c in ("forest_restriction_max", "og_restriction_max",
              "mine_restriction_max"):
        rows = out.planarized.groupBy(c).agg(
            (F.sum("area_m2") / 1e4).alias("ha")).collect()
        per_class[c] = {r[c]: r["ha"] for r in rows}

    # qa_compare_outputs (/root/reference/sql/qa.sql:8-38): dissolved
    # per-designation area in the OVERLAPPING output vs total area of
    # planarized faces whose attribute array contains the designation
    # (the reference's `o.designation && p.designation` intarray-overlap
    # join) — must agree to snap tolerance.
    over_dis = with_area(dissolve(
        out.overlapping.select("cell", "designation", "geom"),
        ["cell", "designation"]))
    over_d = {r["designation"]: r["ha"] for r in
              over_dis.groupBy("designation")
              .agg((F.sum("area_m2") / 1e4).alias("ha")).collect()}
    plan_d = {
        r["d"]: r["ha"]
        for r in out.planarized
        .select(F.explode(F.array_distinct("designation")).alias("d"),
                "area_m2")
        .groupBy("d").agg((F.sum("area_m2") / 1e4).alias("ha"))
        .collect()}
    qa_compare = {
        d: {"overlapping_ha": over_d.get(d, 0.0),
            "planarized_ha": plan_d.get(d, 0.0),
            "pct_diff": (100.0 * abs(over_d.get(d, 0.0)
                                     - plan_d.get(d, 0.0))
                         / max(over_d.get(d, 0.0), 1e-9))}
        for d in sorted(set(over_d) | set(plan_d))}

    from .. import telemetry
    return {
        "total_land_ha": total_land,
        "total_planarized_ha": total_plan,
        "per_designation_ha": per_desig,
        "per_class_ha": per_class,
        "qa_compare": qa_compare,
        # lossy-fallback metric (reference logs NOTICEs per lossy
        # repair, sql/ST_Safe_Difference.sql:70-80): count of ring
        # fragments defensively dropped across all executors, if the
        # caller enabled telemetry before building the pipeline.
        "lossy_fragments": (telemetry.LOSSY_ACC.value
                            if telemetry.LOSSY_ACC is not None else None),
    }

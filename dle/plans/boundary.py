"""A9 bc_boundary build — the reference's composed boundary pipeline
(/root/reference/designatedlands.py:624-721): union the marine layer
(ST_Union + cast normalization, :636-664), ST_Subdivide vertex-heavy
results (:672-688), tile, and precedence-insert the classes into a
single non-overlapping boundary layer (create_tiles.sql north-buffer
insert analogue).

Spark-first composition (every step a real engine operator, all
per-cell parallel):

  tile_geoms  ->  dissolve per (cell, class)  ->  subdivide  ->
  insert_difference_fused by class precedence

Per-cell dissolve is coverage-identical to the reference's global
per-class union because tiling re-cuts geometry at cell edges anyway —
and it scales (the global union is single-task per class; the per-cell
form shards by cell)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_DEPTH
from ..operators.overlay import (
    buffer_geoms, dissolve, insert_difference_fused, tile_geoms,
)
from ..operators.skew import subdivide


def build_boundary(spark: SparkSession, pieces: DataFrame,
                   depth: int = DEFAULT_DEPTH,
                   max_vertices: int = 64,
                   keys: list[str] | None = None,
                   class_buffer: dict[str, float] | None = None,
                   ) -> DataFrame:
    """Compose raw boundary pieces into the non-overlapping boundary
    layer. `pieces` needs (cls string, process_order int, geom binary)
    plus any ride-along keys; lower process_order claims space first.
    Returns tiled rows (cell + input columns), classes disjoint.

    ``class_buffer`` maps a class name to a buffer radius applied to
    its pieces BEFORE tiling — the reference's north-border move, where
    the neighbouring jurisdiction strip is ST_Buffer'd 250 m so it
    claims a sliver-free seam before land is inserted
    (/root/reference/sql/create_tiles.sql:68). Buffering precedes
    tiling because a dilated piece may spill into adjacent cells."""
    keys = keys or []
    cols = ["cls", "process_order"] + keys + ["geom"]
    pieces = pieces.select(*cols)
    if class_buffer:
        rest = pieces.where(~F.col("cls").isin(list(class_buffer)))
        for cls, r in class_buffer.items():
            buf = buffer_geoms(pieces.where(F.col("cls") == cls), r)
            rest = rest.unionByName(buf)
        pieces = rest
    tiled = tile_geoms(pieces, depth)
    dis = dissolve(tiled, ["cell", "cls", "process_order"] + keys)
    sub = subdivide(dis, max_vertices=max_vertices)
    # part_i rides through the fold as a group key: without it the
    # fold's per-group union would re-merge the parts subdivide split
    return insert_difference_fused(sub).drop("part_i")

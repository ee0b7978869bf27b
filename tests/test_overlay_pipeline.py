"""End-to-end vector pipeline at sf0.001: the reference's qa.sql golden
invariants as assertions (SURVEY §5 item 2), plus operator-level checks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dle import datagen
from dle.geom import kernel as K
from dle.geom import wkb
from dle.operators.overlay import clip, dissolve, tile_geoms, with_area
from dle.plans.pipeline import (
    QA_CLASSES, REG_KEYS, process_vector, qa_frames,
)

SF = "/root/testdata/sf0.001"
DEPTH = 3  # 8x8 cells — keeps the tiny-sf pipeline fast


@pytest.fixture(scope="module")
def outputs(spark):
    return process_vector(spark, SF, depth=DEPTH)


@pytest.fixture(scope="module")
def qa(outputs):
    return qa_frames(outputs.boundary_tiled, outputs.overlapping,
                     outputs.planarized)


@pytest.fixture(scope="module")
def totals(qa):
    return qa.totals.collect()[0]


def test_planarized_total_equals_land(totals):
    """qa.sql:42-43 — planarized faces tile the land exactly."""
    assert totals["planarized_m2"] == pytest.approx(
        totals["land_m2"], rel=1e-6)


def test_restriction_class_sums_equal_land(qa, totals):
    """qa.sql:190-213 — each class's level areas sum to total land."""
    sums = {r["cls"]: r["m2"] for r in qa.class_sums.groupBy("cls")
            .agg(F.sum("area_m2").alias("m2")).collect()}
    assert set(sums) == set(QA_CLASSES)
    for cls, m2 in sums.items():
        assert m2 == pytest.approx(totals["land_m2"], rel=1e-6), cls


def test_qa_compare_overlapping_vs_planarized(qa):
    """qa.sql:8-38 — per designation, dissolved overlapping area equals
    the total area of planarized faces containing the designation (a
    designation on one side only reads 0 on the other and fails)."""
    rows = qa.compare.collect()
    assert rows
    for r in rows:
        assert r["planarized_m2"] == pytest.approx(
            r["overlapping_m2"], rel=1e-6), r


def test_precedence_areas_le_overlapping(outputs, qa):
    """precedence output is the non-overlapping partition of each
    designation's claim: per designation it can never exceed the
    dissolved overlapping area."""
    over = {r["designation"]: r["overlapping_m2"]
            for r in qa.compare.collect()}
    prec = {r["designation"]: r["m2"]
            for r in with_area(outputs.designatedlands)
            .groupBy("designation").agg(F.sum("area_m2").alias("m2"))
            .collect()}
    assert set(prec) == set(over)
    for d, m2 in prec.items():
        assert m2 <= over[d] * (1 + 1e-9), d
        assert m2 > 0, d


def test_precedence_total_equals_union(outputs, spark):
    """The precedence layer partitions the union of all designations:
    sum(precedence areas) == area(union of overlapping), and pieces
    never overlap (checked via pairwise area additivity per cell)."""
    prec_total = with_area(outputs.designatedlands).agg(
        F.sum("area_m2")).collect()[0][0]
    union_per_cell = dissolve(
        outputs.overlapping.select("cell", "geom"), ["cell"])
    union_total = with_area(union_per_cell).agg(
        F.sum("area_m2")).collect()[0][0]
    assert prec_total == pytest.approx(union_total, rel=1e-6)


def test_planarize_first_designation_wins_matches_precedence(outputs):
    """Cross-operator consistency: summing face areas by the FIRST
    designation in the (process_order-sorted) array must reproduce the
    A5 precedence per-designation areas — two totally different
    implementations of the same semantics."""
    faces = outputs.planarized.where(F.size("designation") > 0)
    by_first = {
        r["d"]: r["ha"]
        for r in faces.groupBy(F.col("designation")[0].alias("d"))
        .agg((F.sum("area_m2")).alias("ha")).collect()}
    prec = {
        r["designation"]: r["ha"]
        for r in with_area(outputs.designatedlands)
        .groupBy("designation").agg(F.sum("area_m2").alias("ha"))
        .collect()}
    assert set(by_first) == set(prec)
    for d in prec:
        assert by_first[d] == pytest.approx(prec[d], rel=1e-6), d


def _reference_loop(src, **kw):
    """The reference's layer loop (designatedlands.py:693-707): one
    insert_difference per ascending process_order, each differencing
    against the rows accumulated so far."""
    from dle.operators.overlay import insert_difference
    orders = sorted(r[0] for r in
                    src.select("process_order").distinct().collect())
    acc = None
    for po in orders:
        new = insert_difference(
            acc, src.where(F.col("process_order") == po), **kw)
        acc = (new if acc is None else acc.unionByName(new)) \
            .localCheckpoint(eager=False)
    return acc


def test_fused_precedence_equals_loop(spark, outputs):
    """The pipeline's per-cell fold must reproduce the reference layer
    loop's rows and geometry on real 2-D WKB layers."""
    # materialized once: the loop reads it once per layer
    agg = dissolve(outputs.overlapping,
                   ["cell", "designation", "process_order"]) \
        .localCheckpoint()
    a = {(r["cell"], r["designation"]): r["area_m2"]
         for r in with_area(outputs.designatedlands).collect()}
    b = {(r["cell"], r["designation"]): r["area_m2"]
         for r in with_area(_reference_loop(agg)).collect()}
    assert set(a) == set(b)
    # equal regions up to snap tolerance: the loop form re-snaps its
    # accumulated output each iteration, the fused form diffs against
    # pristine originals (slightly MORE accurate)
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-6), k


def test_tile_geoms_conserves_area(spark):
    lay = datagen.layers_poly(spark, SF).limit(30)
    # an empty polygon meets no cell (ST_Intersects is false): no tile
    empty = lay.limit(1).withColumn("feat_id", F.lit(-1)).withColumn(
        "geom", F.lit(bytearray(wkb.polygon_wkb([]))))
    tiled = tile_geoms(lay.unionByName(empty), DEPTH)
    assert tiled.where("feat_id = -1").count() == 0
    # oracle: per-feature VALID area (bowties have signed shoelace ~0
    # until repaired, so repair first — same rule tiling applies)
    a0 = sum(
        K.boolean_area(wkb.parse_rings(bytes(r["geom"])), [], "a", 0.1)
        for r in lay.select("geom").collect())
    a1 = with_area(tiled).agg(F.sum("area_m2")).collect()[0][0]
    # snapping at tile edges moves area by O(grid * perimeter) at most
    assert a1 == pytest.approx(a0, rel=1e-4)


def test_bowtie_features_are_repaired(outputs):
    """FIXTURES §3(d): invalid bowties must come out valid — every
    overlapping geom reassembles with nonneg shell areas."""
    rows = outputs.overlapping.select("geom").limit(200).collect()
    assert rows
    for r in rows:
        rings = wkb.parse_rings(bytes(r["geom"]))
        total = K.area(rings)
        assert total > 0


def test_pipeline_partition_invariance(spark, outputs):
    """local[2]-vs-local[8] analogue within one session: the planarized
    rollup is identical under different shuffle partitioning."""
    def face_rows(df):
        return sorted(
            (r["cell"], tuple(r["designation"]), round(r["area_m2"], 4))
            for r in df.select("cell", "designation", "area_m2")
            .collect())

    a = face_rows(outputs.planarized)
    b = face_rows(outputs.planarized.repartition(17))
    assert a == b
    # and cell-level sums agree to float-fold tolerance
    s = {r["cell"]: r["ha"] for r in outputs.planarized.groupBy("cell")
         .agg(F.sum("area_m2").alias("ha")).collect()}
    t = {r["cell"]: r["ha"]
         for r in outputs.planarized.repartition(17).groupBy("cell")
         .agg(F.sum("area_m2").alias("ha")).collect()}
    for c in s:
        assert s[c] == pytest.approx(t[c], rel=1e-12)


def test_clip_on_mixed_grid_equals_single_depth(spark, outputs):
    """The two-scale grid (coarse cells at sea, fine cells where the
    boundary has land — create_tiles.sql:45-63) clips to exactly the
    pieces of single-depth tiling: coarse pieces are the ones the land
    clip discards. Coarse depth 2: at this fixture 9 of 16 depth-2
    cells contain land, so the grid is GENUINELY mixed (7 coarse
    marine cells) — process_vector's coarse depth at DEPTH=3 is 1,
    where all 4 quadrants touch land and the check would be vacuous."""
    layers = outputs.layers.select(*REG_KEYS, "geom")
    land = outputs.boundary_tiled
    fine_cells = {r["p"] for r in land.select(
        F.col("cell").substr(1, 2).alias("p")).distinct().collect()}
    assert len(fine_cells) < 16  # some coarse cell has no land

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    single = rows(clip(layers, land, DEPTH, b_tiled=True))
    mixed = rows(clip(layers, land, DEPTH, b_tiled=True,
                      fine_cells=fine_cells, coarse_depth=2))
    assert single and mixed == single


def test_tile_geoms_grid_partitions_space(spark):
    """tile_geoms_grid emits each feature cut by the mixed partition:
    per-feature area is conserved and every emitted piece lies inside
    its named cell (coarse or fine)."""
    from dle.cells import cell_bounds
    from dle.operators.overlay import tile_geoms_grid
    lay = datagen.layers_poly(spark, SF).limit(20) \
        .select("feat_id", "geom")
    fine = {"00", "03", "12"}   # refine three depth-2 cells to depth 4
    t = tile_geoms_grid(lay, fine, 2, 4)
    a0 = sum(
        K.boolean_area(wkb.parse_rings(bytes(r["geom"])), [], "a", 0.1)
        for r in lay.select("geom").collect())
    a1 = with_area(t).agg(F.sum("area_m2")).collect()[0][0]
    assert a1 == pytest.approx(a0, rel=1e-4)
    for r in t.select("cell", "geom").collect():
        assert len(r["cell"]) in (2, 4)
        if len(r["cell"]) == 4:
            assert r["cell"][:2] in fine
        else:
            assert r["cell"] not in fine
        x0, y0, x1, y1 = cell_bounds(r["cell"])
        for ring in wkb.parse_rings(bytes(r["geom"])):
            assert (ring[:, 0] >= x0 - 0.1).all()
            assert (ring[:, 0] <= x1 + 0.1).all()
            assert (ring[:, 1] >= y0 - 0.1).all()
            assert (ring[:, 1] <= y1 + 0.1).all()


def test_keep_multi_fused_equals_loop(spark):
    """VERDICT r4 #3: aggregated_insert_difference through the fused
    fold (its own per-group union, then with_agg_id) must equal the
    driver-loop form (insert_difference per ascending order, keep_multi
    on the first aggregation) — identical per-designation areas and
    group counts."""
    from dle.operators.overlay import insert_difference_fused, with_agg_id
    b = datagen.bands_1d(spark, SF).withColumn(
        "cell", F.col("band").cast("string"))
    src = b.select("cell", "designation", "process_order", "geom")

    fused = with_area(with_agg_id(insert_difference_fused(src)))
    f_rows = {(r["designation"],): (round(r["a"]), r["n"]) for r in
              fused.groupBy("designation")
              .agg(F.sum("area_m2").alias("a"),
                   F.count(F.lit(1)).alias("n")).collect()}

    loop = with_area(_reference_loop(src, keep_multi=True))
    l_rows = {(r["designation"],): (round(r["a"]), r["n"]) for r in
              loop.groupBy("designation")
              .agg(F.sum("area_m2").alias("a"),
                   F.count(F.lit(1)).alias("n")).collect()}
    assert f_rows == l_rows
    assert len(f_rows) > 1


def test_keep_multi_output_is_multipart_no_dump(spark):
    """The A6 fold must keep multipart geometry in ONE row per (cell,
    attrs) group (no ST_Dump) with a unique deterministic agg_id."""
    from dle.operators.overlay import insert_difference_fused, with_agg_id
    b = datagen.bands_1d(spark, SF).withColumn(
        "cell", F.col("band").cast("string"))
    src = b.select("cell", "designation", "process_order", "geom")
    out = with_agg_id(insert_difference_fused(src)).collect()
    keys = [(r["cell"], r["designation"], r["process_order"])
            for r in out]
    assert len(keys) == len(set(keys))          # one row per group
    ids = [r["agg_id"] for r in out]
    assert len(ids) == len(set(ids))            # agg_id unique
    # at least one surviving group is genuinely multipart (the diff of
    # an overlapping interval union produces disjoint remainders)
    n_parts = []
    for r in out:
        rings = wkb.parse_rings(bytes(r["geom"]))
        n_parts.append(sum(1 for g in rings if wkb.ring_area(g) >= 0))
    assert max(n_parts) >= 2


def _rect_rows(spark, rows):
    """(cell, designation, process_order, x0, x1) -> 10 m high rects."""
    return spark.createDataFrame(
        [(c, d, po, bytearray(wkb.polygon_wkb(K.rect_rings(x0, 0, x1, 10))))
         for c, d, po, x0, x1 in rows],
        "cell string, designation string, process_order int, geom binary")


def test_fold_unions_each_group_before_it_differences(spark):
    """Two overlapping rows of one (cell, designation, process_order)
    group come out as ONE row covering their union (not their sum),
    with the bytes `dissolve` emits for that group."""
    from dle.operators.overlay import insert_difference_fused
    src = _rect_rows(spark, [("0", "a", 1, 0, 10), ("0", "a", 1, 5, 15)])
    out = insert_difference_fused(src).collect()
    assert len(out) == 1
    assert K.area(wkb.parse_rings(bytes(out[0]["geom"]))) == 150.0
    dis = dissolve(src, ["cell", "designation", "process_order"]).collect()
    assert bytes(out[0]["geom"]) == bytes(dis[0]["geom"])


def test_fold_groups_null_attribute_values(spark):
    """A null attribute value forms its own group, as Spark's groupBy
    does: unioned with its peers, kept apart from every non-null
    group, and claiming space against later orders."""
    from dle.operators.overlay import insert_difference_fused
    src = _rect_rows(spark, [
        ("0", None, 1, 0, 10), ("0", None, 1, 5, 15),
        ("0", "a", 1, 0, 10), ("0", "b", 2, 0, 40)])
    got = sorted(
        (r["designation"] or "", K.area(wkb.parse_rings(bytes(r["geom"]))))
        for r in insert_difference_fused(src).collect())
    assert got == [("", 150.0), ("a", 100.0), ("b", 250.0)]


def test_fold_passes_a_lone_row_through(spark):
    """A group of one row is its own union: its bytes leave the first
    batch as they came. The ring's collinear vertex (5, 0) shows it, as
    a union would add a matching (5, 10) vertex."""
    import numpy as np
    from dle.operators.overlay import insert_difference_fused
    ring = np.array([[0, 0], [5, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                    dtype=float)
    buf = wkb.polygon_wkb([ring])
    src = spark.createDataFrame(
        [("0", "a", 1, bytearray(buf))],
        "cell string, designation string, process_order int, geom binary")
    out = insert_difference_fused(src).collect()
    assert [bytes(r["geom"]) for r in out] == [buf]

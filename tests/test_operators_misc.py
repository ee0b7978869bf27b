"""Salting, subdivide, generic overlay, dump, sketches, config."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dle import datagen
from dle.geom import kernel as K
from dle.geom import wkb
from dle.operators.intersect import spatial_overlay
from dle.operators.overlay import dissolve, with_area
from dle.operators.skew import dissolve_salted, subdivide
from dle.sources import io as dio

SF = "/root/testdata/sf0.001"


def _band_df(spark):
    return datagen.bands_1d(spark, SF).select(
        "designation", "band", "feat_id", "geom")


def test_salted_dissolve_matches_plain(spark):
    df = _band_df(spark)
    plain = dissolve(df.select("designation", "band", "geom"),
                     ["designation", "band"])
    salted = dissolve_salted(df, ["designation", "band"],
                             salt_col="feat_id", salt_k=4)
    a = {(r["designation"], r["band"]): round(r["area_m2"], 3)
         for r in with_area(plain).collect()}
    b = {(r["designation"], r["band"]): round(r["area_m2"], 3)
         for r in with_area(salted).collect()}
    assert a == b


def test_subdivide_conserves_area_and_bounds_vertices(spark):
    # sawtooth land boundary with holes: ~30 shell vertices -> splits
    bnd = datagen.boundary_land(spark).select(
        F.lit(0).alias("feat_id"), "geom")
    sub = subdivide(bnd, max_vertices=8)
    rows = sub.collect()
    assert len(rows) > 1  # something actually split
    total = 0.0
    for r in rows:
        rings = wkb.parse_rings(bytes(r["geom"]))
        shells = sum(1 for x in rings if wkb.ring_area(x) >= 0)
        verts = sum(len(x) - 1 for x in rings)
        # halving can exceed the budget by the clip-added vertices of
        # a single final cut, never more
        assert verts <= 8 + 5 * max(shells, 1)
        total += K.area(rings)
    orig = K.area(wkb.parse_rings(
        bytes(bnd.collect()[0]["geom"])))
    assert total == pytest.approx(orig, rel=1e-9)

    with pytest.raises(ValueError, match=">= 5"):
        subdivide(bnd, max_vertices=3).collect()


def test_composed_boundary_matches_fabricated(spark):
    """A9: build_boundary(pieces)'s land class has identical coverage
    to the old fabricated polygon-with-holes boundary."""
    from dle.operators.overlay import tile_geoms, with_area
    from dle.plans.boundary import build_boundary

    composed = build_boundary(spark, datagen.boundary_pieces(spark),
                              depth=3)
    land = composed.where(F.col("cls") == "land")
    a1 = with_area(land).agg(F.sum("area_m2")).collect()[0][0]
    old = tile_geoms(datagen.boundary_land(spark), 3)
    a0 = with_area(old).agg(F.sum("area_m2")).collect()[0][0]
    assert a1 == pytest.approx(a0, rel=1e-9)
    # classes are disjoint: land + marine area == union of all pieces
    tot = with_area(composed).agg(F.sum("area_m2")).collect()[0][0]
    un = dissolve(tile_geoms(
        datagen.boundary_pieces(spark), 3).select("cell", "geom"),
        ["cell"])
    au = with_area(un).agg(F.sum("area_m2")).collect()[0][0]
    assert tot == pytest.approx(au, rel=1e-9)


def test_spatial_overlay_schema_and_collision(spark):
    a = _band_df(spark).select(
        F.col("feat_id").alias("a_id"), "geom").limit(40)
    b = _band_df(spark).select(
        F.col("feat_id").alias("b_id"), "geom").limit(40)
    # an empty polygon intersects nothing: it forms no pair
    empty = spark.createDataFrame(
        [(-1, bytearray(wkb.polygon_wkb([])))], "a_id long, geom binary")
    out = spatial_overlay(a.unionByName(empty), b, depth=3)
    assert set(out.columns) == {"a_id", "b_id", "cell", "geom"}
    rows = out.collect()
    assert len(rows) >= 40  # every feature overlaps itself at least
    assert all(r["a_id"] != -1 for r in rows)
    self_pairs = [r for r in rows if r["a_id"] == r["b_id"]]
    assert len(self_pairs) >= 40
    with pytest.raises(ValueError, match="collision"):
        spatial_overlay(a, a, depth=3)


def test_dump_flattens_arrays(spark, tmp_path):
    df = spark.createDataFrame(
        [("000", ["a", "b"], [1, 2]), ("001", ["c"], [3])],
        "cell string, names array<string>, orders array<int>")
    dio.dump(df, str(tmp_path / "d"))
    back = spark.read.parquet(str(tmp_path / "d"))
    got = {r["cell"]: (r["names"], r["orders"])
           for r in back.collect()}
    assert got["000"] == ("a;b", "1;2")
    assert got["001"] == ("c", "3")


def test_kmv_sketch_merge_and_accuracy(spark):
    """KMV mergeability (the property that makes it a one-pass
    distributed sketch): the k-min set of a union equals the k-min of
    the concatenated per-half k-min sets. Plus a sanity band on the
    estimate for a group with >> K distinct tokens."""
    from dle.queries_text import KMV_K, q_sketch_distinct_kmv

    SF = "/root/testdata/sf0.001"
    out = {r["lang"]: r for r in
           q_sketch_distinct_kmv(spark, SF).collect()}
    assert out

    from dle.sqlgen import register_tables
    register_tables(spark, SF)
    tok = spark.table("documents").select(
        "lang", F.explode(F.split("text", " ")).alias("tok"))
    h = F.expr("cast(conv(substring(md5(tok), 1, 15), 16, 10)"
               " as bigint)")
    dh = tok.select("lang", h.alias("h")).distinct()

    for lang, r in out.items():
        hs = sorted(x["h"] for x in
                    dh.where(F.col("lang") == lang).collect())
        true_n = len(hs)
        assert r["n_distinct_true"] == true_n
        # merge property: split hashes arbitrarily, sketch halves,
        # merge -> identical kth_min
        a, b = hs[::2], hs[1::2]
        merged = sorted(sorted(a)[:KMV_K] + sorted(b)[:KMV_K])[:KMV_K]
        full = hs[:KMV_K]
        assert merged == full
        if true_n >= KMV_K:
            assert r["kth_min"] == full[-1]
            # KMV relative error ~ 1/sqrt(K-1) ~ 12.6%; allow 4 sigma
            assert abs(r["est_distinct"] - true_n) / true_n < 0.55
        else:
            assert r["est_distinct"] == true_n


def test_range_join_plan_has_no_cartesian(spark):
    """The range join must plan as a hash equi-join on (bucket, keys)
    with BETWEEN as a filter — never BroadcastNestedLoop/Cartesian."""
    from dle.operators.ranges import range_join

    left = spark.createDataFrame(
        [(1, 1, 100)], "id bigint, k bigint, ts bigint")
    right = spark.createDataFrame(
        [(1, 50, 150)], "k bigint, s bigint, e bigint")
    j = range_join(left, right, "ts", "s", "e", bucket=100, on=["k"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = j.collect()
    assert len(rows) == 1 and rows[0]["id"] == 1
    # boundary semantics: inclusive on both ends, single emission even
    # when the interval spans multiple buckets
    right2 = spark.createDataFrame(
        [(1, 0, 1000)], "k bigint, s bigint, e bigint")
    out = range_join(left, right2, "ts", "s", "e", bucket=100,
                     on=["k"]).collect()
    assert len(out) == 1


def test_polygon_precedence_fold_validates_index(spark):
    """ADVICE r4: duplicate tiebreak ids and encoding-overflow values
    must be rejected at index-build time, not silently corrupted."""
    import numpy as np

    from dle.geom import wkb as W
    from dle.operators.spatial_join import pip_polygon_precedence_fold
    from dle.config import XMIN, YMIN

    def tri(x0, y0):
        return bytearray(W.polygon_wkb([np.array(
            [[x0, y0], [x0 + 1000.0, y0], [x0, y0 + 1000.0], [x0, y0]],
            dtype=np.float64)]))

    pts = spark.createDataFrame(
        [(1, 0, XMIN + 100.5, YMIN + 100.5)],
        "page_id bigint, cand_i int, px double, py double")
    schema = ("x0 double, y0 double, x1 double, y1 double, "
              "process_order int, feat_id bigint, geom binary")

    dup = spark.createDataFrame(
        [(XMIN, YMIN, XMIN + 1000.0, YMIN + 1000.0, 1, 7,
          tri(XMIN, YMIN)),
         (XMIN, YMIN + 2000.0, XMIN + 1000.0, YMIN + 3000.0, 2, 7,
          tri(XMIN, YMIN + 2000.0))], schema)
    with pytest.raises(ValueError, match="unique"):
        pip_polygon_precedence_fold(pts, dup, 5)

    big_tb = spark.createDataFrame(
        [(XMIN, YMIN, XMIN + 1000.0, YMIN + 1000.0, 1, 1 << 33,
          tri(XMIN, YMIN))], schema)
    with pytest.raises(ValueError, match="feat_id"):
        pip_polygon_precedence_fold(pts, big_tb, 5)

    big_po = spark.createDataFrame(
        [(XMIN, YMIN, XMIN + 1000.0, YMIN + 1000.0, 1 << 30, 1,
          tri(XMIN, YMIN))], schema)
    with pytest.raises(ValueError, match="process_order"):
        pip_polygon_precedence_fold(pts, big_po, 5)


def test_dissolve_auto_dispatch_and_equality(spark):
    """VERDICT r4 #4: dissolve_auto picks plain vs salted off the real
    group-size histogram; both branches produce identical areas, and
    the dispatch is visible in the plan (1 exchange plain, 2 salted)."""
    from dle.operators.skew import dissolve_auto

    b = datagen.bands_1d(spark, SF).select("designation", "band", "geom")

    def areas(df):
        return sorted(
            (r["designation"], r["band"], round(r["area_m2"]))
            for r in with_area(df).collect())

    plain = dissolve_auto(b, ["designation", "band"], "geom")
    forced = dissolve_auto(b, ["designation", "band"], "geom",
                           threshold=0)
    p_plan = plain._jdf.queryExecution().executedPlan().toString()
    f_plan = forced._jdf.queryExecution().executedPlan().toString()
    assert p_plan.count("Exchange hashpartitioning") == 1
    assert f_plan.count("Exchange hashpartitioning") == 2
    assert areas(plain) == areas(forced)


def test_tile_geoms_mixed_prefix_and_area(spark):
    """VERDICT r4 #5: mixed-depth tiling — per-row depth controls the
    emitted key length, keys stay prefix-compatible across depths, and
    clipping conserves per-feature area."""
    from dle import sqlgen
    from dle.operators.overlay import tile_geoms_mixed
    from dle.queries_raster import _rect_wkb

    lay = sqlgen.spark_view(spark, SF, "layers").withColumn(
        "tile_depth",
        F.when(F.col("feat_id") % 2 == 1, F.lit(3))
        .otherwise(F.lit(5)).cast("int"))
    w = lay.select("feat_id", "tile_depth", "x0", "y0", "x1", "y1",
                   _rect_wkb("x0", "y0", "x1", "y1").alias("geom"))
    t = with_area(tile_geoms_mixed(w))
    rows = t.collect()
    assert rows
    fine_cells, coarse_cells = set(), set()
    per_feat: dict = {}
    for r in rows:
        assert len(r["cell"]) == r["tile_depth"]
        (coarse_cells if r["tile_depth"] == 3 else fine_cells).add(
            r["cell"])
        per_feat.setdefault(
            r["feat_id"],
            [0.0, (r["x1"] - r["x0"]) * (r["y1"] - r["y0"])])[0] \
            += r["area_m2"]
    # prefix compatibility: some fine cell descends from a coarse key's
    # 3-char prefix space (all keys share the quadkey alphabet/anchor)
    assert any(f[:3] in coarse_cells for f in fine_cells)
    for fid, (got, want) in per_feat.items():
        assert abs(got - want) < 1.0, fid


def test_config_ini_front_end(tmp_path):
    """VERDICT r5 #6: reference-format INI merge over defaults with the
    reference's typing rules (designatedlands.py:265-285, :338-353):
    out_path lowercased, depth int()ed, keys no job reads carried
    through."""
    import pytest

    from dle.config import (ConfigValueError, DEFAULT_DEPTH,
                            load_config, pop_config)

    cfg_file = tmp_path / "dl.cfg"
    cfg_file.write_text(
        "[designatedlands]\n"
        "dl_path=source_data\n"
        "out_path=OutPuts\n"
        "resolution=25\n"
        "n_processes=4\n"
        "extent=0, 0, 1000, 2000\n"
        "custom_key=kept\n")
    cfg = load_config(str(cfg_file))
    assert cfg["out_path"] == "outputs"           # lowercased
    assert cfg["custom_key"] == "kept"            # plain dict update
    assert cfg["depth"] == DEFAULT_DEPTH          # default preserved

    with pytest.raises(ConfigValueError):
        load_config(str(tmp_path / "missing.cfg"))
    bad = tmp_path / "bad.cfg"
    bad.write_text("[designatedlands]\ndepth=ten\n")
    with pytest.raises(ConfigValueError):
        load_config(str(bad))

    # job front end: --config is popped from argv, positions intact
    argv = ["--config", str(cfg_file), "in_dir", "out_dir"]
    got = pop_config(argv)
    assert argv == ["in_dir", "out_dir"]
    assert got == cfg

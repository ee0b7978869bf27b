"""Physical-plan regression tests (the '.explain and iterate' gate):
the engine's headline paths must keep the plan shapes a 100 TB run
depends on — broadcast dimension sides, no Python eval in JVM-only
paths, predicate pushdown reaching the parquet scan."""

from __future__ import annotations

from dle import queries as q
from dle import sqlgen

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_join_broadcasts_and_stays_jvm(spark):
    plan = _plan(q.q_spatial_pip_join(spark, SF))
    # the exploded layer-cell side and the documents lookup broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    # the petabyte point side must NOT shuffle for the join itself
    assert "Exchange hashpartitioning" not in plan
    # no Python in the refine path: rect refine is pure JVM
    assert "EvalPython" not in plan


def test_precedence_agg_is_partial(spark):
    plan = _plan(q.q_spatial_rollup_counts(spark, SF))
    # map-side partial aggregation before the exchange
    assert "partial_min" in plan or "partial_count" in plan


def test_filter_pushdown_reaches_scan(spark):
    sqlgen.register_tables(spark, SF)
    plan = _plan(spark.sql(
        "select o_orderkey from orders where o_orderkey < 100"))
    assert "LessThan(o_orderkey,100)" in plan
    assert "struct<o_orderkey:bigint>" in plan  # column pruning


def test_dedup_simhash_has_no_python_stage(spark):
    """VERDICT r1 #1: simhash must be pure JVM — no row-at-a-time or
    Arrow Python eval anywhere in the plan."""
    plan = _plan(q.queries()["dedup_simhash"](spark, SF))
    assert "EvalPython" not in plan          # Batch/ArrowEvalPython
    assert "FlatMapGroupsInPandas" not in plan
    # the signature computes inside the scan stage: no key shuffle
    assert "Exchange hashpartitioning" not in plan


def test_dedup_simhash_matches_scalar_reference(spark):
    """Engine JVM path reproduces the scalar md5 simhash definition."""
    from dle.queries_text import _simhash_py
    df = q.queries()["dedup_simhash"](spark, SF)
    rows = df.collect()
    sqlgen.register_tables(spark, SF)
    texts = {r["doc_id"]: r["text"]
             for r in spark.table("documents").collect()}
    got = {r["doc_id"]: r["simhash"] for r in rows}
    for did, text in list(texts.items())[:50]:
        assert got[did] == _simhash_py(text), did


def test_dedup_minhash_single_hash_per_token(spark):
    """VERDICT r1 #2: one md5 per token — the plan contains exactly one
    md5 call and no crossJoin row blowup."""
    plan = _plan(q.queries()["dedup_minhash_buckets"](spark, SF))
    assert plan.count("md5(") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tile_geoms_has_no_shuffle(spark):
    """VERDICT r1 #4: tiling is per-row independent — the tile-only
    path must not exchange the fact table; only ops that group
    (dissolve/cogroup) may shuffle. Each of the three grid specs runs
    as ONE Python node: the scan-side tiler, with no bbox UDF pass."""
    from pyspark.sql import functions as F

    from dle import datagen
    from dle.operators.overlay import (
        tile_geoms, tile_geoms_grid, tile_geoms_mixed,
    )
    # the fixture builds its WKB in a pandas UDF: tile a Python-free
    # copy so the tiler is the only Python node in the plan
    poly = datagen.layers_poly(spark, SF)
    lay = spark.createDataFrame(poly.collect(), poly.schema)
    mixed = lay.withColumn(
        "tile_depth", F.when(F.col("feat_id") % 2 == 1, F.lit(3))
        .otherwise(F.lit(5)).cast("int"))
    for df in (tile_geoms(lay, 3), tile_geoms_mixed(mixed),
               tile_geoms_grid(lay, {"00", "03", "12"}, 2, 4)):
        plan = _plan(df)
        assert "Exchange hashpartitioning" not in plan
        assert plan.count("MapInPandas") == 1, plan
        assert "EvalPython" not in plan, plan


def test_polygon_fold_has_no_point_exchange(spark):
    """r4: the polygon precedence fold ships the dimension side as a
    driver-built Python broadcast, so the POINT plan must contain no
    exchange at all — no hash shuffle, no broadcast-DF join (a
    regression to the join form re-introduces per-row Arrow
    deserialization of the feature arrays; see
    pip_polygon_precedence_fold's docstring)."""
    from dle import datagen
    from dle.operators.spatial_join import pip_polygon_precedence_fold
    pts = spark.createDataFrame(
        [(1, 0, 1000.5, 1000.5)],
        "page_id bigint, cand_i int, px double, py double")
    tris = datagen.tris_poly(spark, SF)
    plan = _plan(pip_polygon_precedence_fold(pts, tris, 7))
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "ArrowEvalPython" in plan  # the winding fold runs scan-side


def test_ann_lsh_topk_plan_shape(spark):
    """Bucketed ANN: candidate generation must be broadcast equi-joins
    (query side tiny), never a cartesian product of the corpus."""
    plan = _plan(q.queries()["ann_lsh_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # the only nested-loop join allowed is the 32-row plane broadcast
    # and the <=5-query brute fallback cross join
    assert "EvalPython" not in plan


def test_dissolve_shuffles_once_by_keys(spark):
    from dle import datagen
    from dle.operators.overlay import dissolve
    b = datagen.bands_1d(spark, SF).select("designation", "band", "geom")
    plan = _plan(dissolve(b, ["designation", "band"]))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan


def test_precedence_is_one_grouped_stage(spark):
    """The fold unions each group itself: precedence runs as ONE grouped
    pandas stage, with no dissolve stage in front of it."""
    plan = _plan(q.queries()["overlay_precedence_area_1d"](spark, SF))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_pip_mixed_join_no_point_shuffle(spark):
    """Mixed-depth PIP join: the point side takes a bounded 2-way
    explode + broadcast equi-join — no point-side hash exchange, no
    Python eval in the join/refine path (the only Arrow stage is the
    dimension-side tiler)."""
    plan = _plan(q.q_spatial_pip_mixed_join(spark, SF))
    # the only hash exchanges are the rollup's two countDistinct
    # phases ((designation, page_id) then designation) — both carry
    # partial-aggregated data, never raw point rows
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan

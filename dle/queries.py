"""The engine's query surface: (spark, sf_dir) -> DataFrame callables
plus their DuckDB oracle SQL twins.

Every oracle-checked query follows the cross-engine determinism rules
(see sqlgen.py): integral-double coordinates, md5 as the only string
hash, integer aggregation before any division, explicit aliases on
every computed column (dle.resultcheck hash-compares by sorted column
name).

Engine callables go through the real operator path (cell explode /
broadcast join / refine / map-side-combinable aggregation); oracles are
the naive relational restatement DuckDB can run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import sqlgen
from .cells import sql_point_cell, sql_quadkey
from .config import DEFAULT_DEPTH, GRID_SIZE, XMIN, YMIN
from .operators.spatial_join import (
    explode_rect_cells, pip_index_join, pip_join_rects,
    precedence_resolve, restriction_max, with_point_cell,
)
from .sqlgen import BX0, BX1, BY0, BY1, preamble, register_tables

D = DEFAULT_DEPTH


def _points(spark: SparkSession, sf: str) -> DataFrame:
    return sqlgen.spark_view(spark, sf, "points")


def _layers(spark: SparkSession, sf: str) -> DataFrame:
    return sqlgen.spark_view(spark, sf, "layers")


def _pip_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """points x layers containment pairs via the two-phase cell join."""
    pts = _points(spark, sf).select("page_id", "cand_i", "px", "py")
    lay = _layers(spark, sf)
    return pip_join_rects(pts, lay, D)


# ------------------------------------------------------------ spatial

def q_spatial_cell_assign(spark, sf):
    """Tile/cell assignment of every geocoded page point (A3/A10)."""
    pts = _points(spark, sf).select("page_id", "cand_i", "px", "py")
    return with_point_cell(pts, "px", "py", D).select(
        "page_id", "cand_i", "cell", "px", "py")


def o_spatial_cell_assign():
    cell = sql_point_cell("px", "py", D, "duckdb")
    return (preamble("duckdb", layers=False)
            + f" select page_id, cand_i, {cell} as cell, px, py from points")


def q_spatial_pip_join(spark, sf):
    """Point-in-polygon join pairs (E1/E2): one row per containing
    feature per candidate point."""
    return _pip_pairs(spark, sf).select(
        "page_id", "cand_i", "feat_id", "designation", "process_order")


def o_spatial_pip_join():
    return (preamble("duckdb") + """
 select p.page_id, p.cand_i, l.feat_id, l.designation, l.process_order
 from points p join layers l
   on p.px >= l.x0 and p.px < l.x1 and p.py >= l.y0 and p.py < l.y1""")


def _pip_folded(spark, sf):
    """Covered points with their containing-feature array (_feats) via
    the zero-point-shuffle broadcast-index join."""
    pts = _points(spark, sf).select("page_id", "cand_i", "px", "py")
    lay = _layers(spark, sf)
    return pip_index_join(
        pts, lay, D,
        feat_cols=("process_order", "feat_id", "forest_restriction",
                   "og_restriction", "mine_restriction"))


def q_spatial_pip_precedence(spark, sf):
    """Designation-precedence winner per point (A5 point semantics):
    the containing layer with MIN process_order claims the point.
    IN-SCAN form: the argmin folds over the broadcast-index `_feats`
    array inside the point scan — the only exchange left is the tiny
    feature-side index groupBy (VERDICT r2 #10)."""
    j = _pip_folded(spark, sf)
    won = j.select(
        "page_id", "cand_i",
        F.expr("array_min(transform(_feats, f -> f.process_order))")
        .alias("process_order")).where("process_order is not null")
    return won.select(
        "page_id", "cand_i", "process_order",
        F.concat(F.lit("desig_"),
                 F.lpad(F.col("process_order").cast("string"), 2, "0")
                 ).alias("designation"))


def o_spatial_pip_precedence():
    return (preamble("duckdb") + """
 select p.page_id, p.cand_i,
        min(l.process_order) as process_order,
        concat('desig_', lpad(cast(min(l.process_order) as string), 2, '0'))
          as designation
 from points p join layers l
   on p.px >= l.x0 and p.px < l.x1 and p.py >= l.y0 and p.py < l.y1
 group by p.page_id, p.cand_i""")


def q_spatial_restriction_max(spark, sf):
    """Max restriction level per point across ALL covering layers — the
    planarize (sort_desc(array_agg(r)))[1] semantics (F4). IN-SCAN
    form: three array_max folds in the point scan, zero point-side
    exchange (the groupBy-pairs form is still exercised through
    operators.spatial_join.restriction_max in pytest)."""
    j = _pip_folded(spark, sf)
    maxes = [
        F.expr(f"array_max(transform(_feats, f -> f.{c}))")
        .alias(f"{c}_max")
        for c in ("forest_restriction", "og_restriction",
                  "mine_restriction")]
    return (j.where(F.size("_feats") > 0)
            .select("page_id", "cand_i", *maxes))


def o_spatial_restriction_max():
    return (preamble("duckdb") + """
 select p.page_id, p.cand_i,
        max(l.forest_restriction) as forest_restriction_max,
        max(l.og_restriction) as og_restriction_max,
        max(l.mine_restriction) as mine_restriction_max
 from points p join layers l
   on p.px >= l.x0 and p.px < l.x1 and p.py >= l.y0 and p.py < l.y1
 group by p.page_id, p.cand_i""")


def q_spatial_rollup_counts(spark, sf):
    """Per-designation rollup of precedence-resolved points (F5/qa.sql
    analogue): distinct pages + point count per winning designation.
    The per-point winner folds in the scan; the only point-data
    exchange left is the partial-aggregated rollup itself."""
    j = _pip_folded(spark, sf)
    won = j.select(
        "page_id",
        F.expr("array_min(transform(_feats, f -> f.process_order))")
        .alias("process_order")).where("process_order is not null")
    out = won.groupBy("process_order").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("page_id").alias("n_pages"))
    return out.select(
        F.concat(F.lit("desig_"),
                 F.lpad(F.col("process_order").cast("string"), 2, "0")
                 ).alias("designation"),
        "n_points", "n_pages")


def o_spatial_rollup_counts():
    return (preamble("duckdb") + """
 , won as (
   select p.page_id, p.cand_i, min(l.process_order) as process_order
   from points p join layers l
     on p.px >= l.x0 and p.px < l.x1 and p.py >= l.y0 and p.py < l.y1
   group by p.page_id, p.cand_i)
 select concat('desig_', lpad(cast(process_order as string), 2, '0'))
          as designation,
        cast(count(*) as bigint) as n_points,
        cast(count(distinct page_id) as bigint) as n_pages
 from won group by process_order""")


def q_spatial_clip_area_ha(spark, sf):
    """Clip (A1) of every layer by the land boundary + per-designation
    dissolved-area rollup in hectares (F5, /root/reference/sql/qa.sql:16).

    Areas are exact integer m^2 (integral coords), so sums are exact and
    the final /10000 is IEEE-identical across engines.
    """
    lay = _layers(spark, sf)
    ix0 = F.greatest(F.col("x0"), F.lit(BX0))
    iy0 = F.greatest(F.col("y0"), F.lit(BY0))
    ix1 = F.least(F.col("x1"), F.lit(BX1))
    iy1 = F.least(F.col("y1"), F.lit(BY1))
    w = F.greatest(ix1 - ix0, F.lit(0.0))
    h = F.greatest(iy1 - iy0, F.lit(0.0))
    clipped = lay.withColumn("_area", (w * h).cast("bigint"))
    return (clipped.where(F.col("_area") > 0)
            .groupBy("designation")
            .agg((F.sum("_area") / F.lit(10000.0)).alias("area_ha"),
                 F.count(F.lit(1)).alias("n_feats")))


def o_spatial_clip_area_ha():
    return (preamble("duckdb", pages=False) + f"""
 , clipped as (
   select designation,
     cast(greatest(least(x1, {BX1!r}) - greatest(x0, {BX0!r}), 0.0)
        * greatest(least(y1, {BY1!r}) - greatest(y0, {BY0!r}), 0.0)
        as bigint) as _area
   from layers)
 select designation,
        cast(sum(_area) as double) / 10000.0 as area_ha,
        cast(count(*) as bigint) as n_feats
 from clipped where _area > 0 group by designation""")


def q_spatial_tile_feature_counts(spark, sf):
    """Per-cell feature counts — the tile op's work histogram (A3); also
    the skew histogram that drives salting decisions."""
    lay = _layers(spark, sf)
    e = explode_rect_cells(lay, "x0", "y0", "x1", "y1", D)
    return e.groupBy("cell").agg(F.count(F.lit(1)).alias("n_feats"))


def o_spatial_tile_feature_counts():
    res = GRID_SIZE / (1 << D)
    n = (1 << D) - 1
    qk = sql_quadkey("cx.i", "cy.i", D, "duckdb")
    sx = sqlgen.series(1 << D, "cx", "i", "duckdb")
    sy = sqlgen.series(1 << D, "cy", "i", "duckdb")
    return (preamble("duckdb", pages=False) + f"""
 select {qk} as cell, cast(count(*) as bigint) as n_feats
 from layers, {sx}, {sy}
 where cx.i >= least({n}, greatest(0,
         cast(floor((x0 - {XMIN!r}) / {res!r}) as bigint)))
   and cx.i <= least({n}, greatest(0,
         cast(floor((x1 - {XMIN!r}) / {res!r}) as bigint)))
   and cy.i >= least({n}, greatest(0,
         cast(floor((y0 - {YMIN!r}) / {res!r}) as bigint)))
   and cy.i <= least({n}, greatest(0,
         cast(floor((y1 - {YMIN!r}) / {res!r}) as bigint)))
 group by 1""")


def q_spatial_tile_mixed_counts(spark, sf):
    """TWO-SCALE tile system (VERDICT r4 #5 / the reference's mixed
    1:20k land + 1:250k marine grid, sql/create_tiles.sql:45-63):
    odd feat_ids play the sparse 'marine' class and tile at COARSE
    depth 3, even feat_ids at FINE depth 5, through the real
    per-row-depth tile operator (tile_geoms_mixed — cover + clip +
    prefix-compatible quadkeys, zero shuffle). Gate output = feature
    count per mixed-depth cell; the oracle enumerates both depths
    closed-form (depth-3 and depth-5 keys can never collide — the
    string lengths differ)."""
    from .operators.overlay import tile_geoms_mixed
    from .queries_raster import _rect_wkb
    lay = _layers(spark, sf).withColumn(
        "tile_depth",
        F.when(F.col("feat_id") % 2 == 1, F.lit(3))
        .otherwise(F.lit(5)).cast("int"))
    w = lay.select("feat_id", "tile_depth",
                   _rect_wkb("x0", "y0", "x1", "y1").alias("geom"))
    t = tile_geoms_mixed(w)
    return t.groupBy("cell").agg(F.count(F.lit(1)).alias("n_feats"))


def q_spatial_pip_mixed_join(spark, sf):
    """PIP join ACROSS the two-scale grid (the join-side proof of the
    mixed-depth tile system): layers tile at depth 3 (odd feat_ids,
    the sparse 'marine' class) or depth 5 (even), the point side
    emits its quadkey at both depths (bounded 2-way explode — the
    prefix join made equi; spatial_join.pip_join_mixed), one broadcast
    cell equi-join + JVM bbox refine. The oracle joins the UNTILED
    layers directly, so any tiling/prefix/dedupe mistake in the mixed
    path (dropped cells, double-matched pieces, wrong-depth keys)
    breaks the pair counts."""
    from .operators.overlay import tile_geoms_mixed
    from .operators.spatial_join import pip_join_mixed
    from .queries_raster import _rect_wkb
    lay = _layers(spark, sf).withColumn(
        "tile_depth",
        F.when(F.col("feat_id") % 2 == 1, F.lit(3))
        .otherwise(F.lit(5)).cast("int"))
    w = lay.select("feat_id", "designation", "tile_depth",
                   "x0", "y0", "x1", "y1",
                   _rect_wkb("x0", "y0", "x1", "y1").alias("geom"))
    t = tile_geoms_mixed(w).select(
        "cell", "feat_id", "designation", "x0", "y0", "x1", "y1")
    pts = _points(spark, sf).select("page_id", "cand_i", "px", "py")
    j = pip_join_mixed(pts, t, [3, 5])
    return j.groupBy("designation").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("page_id").alias("n_pages"))


def o_spatial_pip_mixed_join():
    return (preamble("duckdb") + """
 select l.designation, cast(count(*) as bigint) as n_pairs,
        cast(count(distinct p.page_id) as bigint) as n_pages
 from points p join layers l
   on p.px >= l.x0 and p.px < l.x1 and p.py >= l.y0 and p.py < l.y1
 group by l.designation""")


def _o_tile_counts_at(depth: int, pred: str) -> str:
    """Closed-form covering-cell enumeration at one depth, mirroring
    cells.cover exactly (HALF-OPEN upper bound: a rect ending on a
    cell boundary does not enter the next cell)."""
    res = GRID_SIZE / (1 << depth)
    n = (1 << depth) - 1
    qk = sql_quadkey("cx.i", "cy.i", depth, "duckdb")
    sx = sqlgen.series(1 << depth, "cx", "i", "duckdb")
    sy = sqlgen.series(1 << depth, "cy", "i", "duckdb")
    return f"""
 select {qk} as cell, cast(count(*) as bigint) as n_feats
 from layers, {sx}, {sy}
 where {pred}
   and cx.i >= least({n}, greatest(0,
         cast(floor((x0 - {XMIN!r}) / {res!r}) as bigint)))
   and cx.i <= least({n}, greatest(0,
         cast(ceil((x1 - {XMIN!r}) / {res!r}) as bigint) - 1))
   and cy.i >= least({n}, greatest(0,
         cast(floor((y0 - {YMIN!r}) / {res!r}) as bigint)))
   and cy.i <= least({n}, greatest(0,
         cast(ceil((y1 - {YMIN!r}) / {res!r}) as bigint) - 1))
 group by 1"""


def o_spatial_tile_mixed_counts():
    return (preamble("duckdb", pages=False)
            + _o_tile_counts_at(3, "feat_id % 2 = 1")
            + " union all "
            + _o_tile_counts_at(5, "feat_id % 2 = 0"))


def q_pages_latest_capture(spark, sf):
    """Latest-capture-per-url dedup (as-of/E-note; warc_ts as epoch
    seconds): max warc_ts + capture count per url."""
    caps = sqlgen.spark_view(spark, sf, "captures")
    return caps.groupBy("url").agg(
        F.max("warc_ts").alias("latest_ts"),
        F.count(F.lit(1)).alias("n_captures"))


def o_pages_latest_capture():
    return (preamble("duckdb", layers=False) + """
 select url, max(warc_ts) as latest_ts,
        cast(count(*) as bigint) as n_captures
 from captures group by url""")


def q_text_bytes_invariant(spark, sf):
    """BYTE-IDENTITY GATE (BASELINE.json per-row invariant): after the
    geocode -> cell join -> PIP path, re-join `text` by page key and
    hash it. The geometry stages never touch `text` (SURVEY §7: carry
    the key, re-join text at the end), so md5(text) must equal the
    straight-from-source hash the oracle computes. Coverage tests fold
    in the scan, so the distinct shuffle carries bare page_ids of
    covered points only."""
    pairs = (_pip_folded(spark, sf).where(F.size("_feats") > 0)
             .select("page_id").distinct())
    pages = sqlgen.spark_view(spark, sf, "pages")
    out = pairs.join(pages, "page_id")
    return out.select("page_id", "url", F.md5("text").alias("text_md5"),
                      F.length("text").alias("text_len"))


def o_text_bytes_invariant():
    return (preamble("duckdb") + """
 select distinct p.page_id, p.url, md5(p.text) as text_md5,
        cast(length(p.text) as int) as text_len
 from pages p
 where exists (select 1 from points q join layers l
                 on q.px >= l.x0 and q.px < l.x1
                and q.py >= l.y0 and q.py < l.y1
               where q.page_id = p.page_id)""")


def q_spatial_knn(spark, sf):
    """Spatial kNN join (north_star op): 3 nearest designation features
    per candidate point, exact integer squared-meter distances,
    deterministic (d2, feat_id) ranking."""
    from .operators.knn import knn_join_rects
    pts = _points(spark, sf).select("page_id", "cand_i", "px", "py")
    lay = _layers(spark, sf)
    out = knn_join_rects(pts, lay, k=3)
    return out.select("page_id", "cand_i", "rank", "feat_id", "d2")


def o_spatial_knn():
    return (preamble("duckdb") + """
 , scored as (
   select p.page_id, p.cand_i, l.feat_id,
          cast(greatest(l.x0 - p.px, p.px - l.x1, 0.0)
               * greatest(l.x0 - p.px, p.px - l.x1, 0.0)
             + greatest(l.y0 - p.py, p.py - l.y1, 0.0)
               * greatest(l.y0 - p.py, p.py - l.y1, 0.0)
             as bigint) as d2
   from points p, layers l),
 ranked as (
   select *, row_number() over (partition by page_id, cand_i
                                order by d2, feat_id) as rank
   from scored)
 select page_id, cand_i, cast(rank as int) as rank, feat_id, d2
 from ranked where rank <= 3""")


def q_spatial_knn_pruned(spark, sf):
    """Scale-path kNN (cell-ring pruning + provable-completeness check
    + fallback) — must be hash-identical to the brute-force oracle."""
    from .operators.knn import knn_join_pruned
    pts = _points(spark, sf).select("page_id", "cand_i", "px", "py")
    lay = _layers(spark, sf)
    out = knn_join_pruned(pts, lay, k=3)
    return out.select("page_id", "cand_i", "rank", "feat_id", "d2")


def q_spatial_pip_polygon(spark, sf):
    """Point-in-POLYGON join on NON-RECTANGULAR layers (VERDICT r3 #3):
    right-triangle designation features through the real cell-join +
    exact-winding-refine operator (pip_join_polygons). The oracle
    verifies the kernel's winding test against closed-form half-plane
    arithmetic — the first gate where the flagship E1 path faces a
    true polygon predicate, as the reference's joins do
    (/root/reference/sql/create_designations_planarized.sql:60-61)."""
    from . import datagen
    from .operators.spatial_join import pip_join_polygons
    pts = _points(spark, sf).select("page_id", "cand_i", "px", "py")
    tris = datagen.tris_poly(spark, sf)
    out = pip_join_polygons(pts, tris, D)
    return out.select("page_id", "cand_i", "feat_id", "designation",
                      "orient")


def o_spatial_pip_polygon():
    # diagonal functional: (px-x0)*h + (py-y0)*w vs w*h — exact integral
    # arithmetic in float64 on both engines (see sqlgen.tris_ctes);
    # orient 0 = below the diagonal, orient 1 = above.
    f = ("(p.px - t.x0) * (t.y1 - t.y0) + (p.py - t.y0) * (t.x1 - t.x0)")
    wh = "(t.x1 - t.x0) * (t.y1 - t.y0)"
    return (preamble("duckdb", layers=False, tris=True) + f"""
 select p.page_id, p.cand_i, t.feat_id, t.designation, t.orient
 from points p join tris t
   on p.px > t.x0 and p.px < t.x1 and p.py > t.y0 and p.py < t.y1
  and case when t.orient = 0 then {f} < {wh} else {f} > {wh} end""")


def q_spatial_polygon_precedence(spark, sf):
    """A5 precedence semantics over NON-RECTANGULAR layers, through
    the ZERO-POINT-EXCHANGE fold (pip_polygon_precedence_fold): the
    winning designation per point is argmin (process_order, feat_id)
    over the containing triangles, decided by the exact winding test
    INSIDE the point scan — the polygon analogue of the rect path's
    in-scan fold, with the dimension side shipped as a driver-built
    Python broadcast index (cell -> feature list). ZERO exchanges in
    the whole point plan. (The pair-emit + groupBy form stays covered
    via pip_join_polygons in the spatial_pip_polygon gate + pytest.)"""
    from . import datagen
    from .operators.spatial_join import pip_polygon_precedence_fold
    pts = _points(spark, sf).select("page_id", "cand_i", "px", "py")
    tris = datagen.tris_poly(spark, sf)
    out = pip_polygon_precedence_fold(pts, tris, D)
    return (out.where(F.col("win_process_order").isNotNull())
            .select("page_id", "cand_i",
                    F.col("win_process_order").cast("int")
                    .alias("process_order"),
                    F.col("win_feat_id").alias("feat_id")))


def o_spatial_polygon_precedence():
    f = ("(p.px - t.x0) * (t.y1 - t.y0) + (p.py - t.y0) * (t.x1 - t.x0)")
    wh = "(t.x1 - t.x0) * (t.y1 - t.y0)"
    return (preamble("duckdb", layers=False, tris=True) + f"""
 , pairs as (
   select p.page_id, p.cand_i, t.process_order, t.feat_id,
          row_number() over (partition by p.page_id, p.cand_i
                             order by t.process_order, t.feat_id) as rn
   from points p join tris t
     on p.px > t.x0 and p.px < t.x1 and p.py > t.y0 and p.py < t.y1
    and case when t.orient = 0 then {f} < {wh} else {f} > {wh} end)
 select page_id, cand_i, process_order, feat_id
 from pairs where rn = 1""")


def q_pages_html_invariant(spark, sf):
    """html binary column (input_hint) byte identity: md5 of the html
    payload per url survives the engine's page derivation."""
    pages = sqlgen.spark_view(spark, sf, "pages")
    html = F.expr("cast(concat('<html>', text, '</html>') as binary)")
    return pages.select(
        "url", F.md5(html).alias("html_md5"),
        F.length(html).alias("html_len"))


def o_pages_html_invariant():
    return (preamble("duckdb", layers=False) + """
 select url, md5(concat('<html>', text, '</html>')) as html_md5,
        cast(strlen(concat('<html>', text, '</html>')) as int)
          as html_len
 from pages""")


# ---------------------------------------------------------- relational

def q_rel_pricing_summary(spark, sf):
    """TPC-H Q1-shaped aggregation (F5 discipline: cents-integer sums
    so results are order-independent and bit-identical cross-engine)."""
    register_tables(spark, sf)
    li = spark.table("lineitem")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("bigint")  # noqa: E731
    out = (li.withColumn("_q", cents("l_quantity"))
             .withColumn("_p", cents("l_extendedprice"))
             .groupBy("l_returnflag", "l_linestatus")
             .agg((F.sum("_q") / 100.0).alias("sum_qty"),
                  (F.sum("_p") / 100.0).alias("sum_price"),
                  F.count(F.lit(1)).alias("n_rows")))
    return out


def o_rel_pricing_summary():
    return """
 select l_returnflag, l_linestatus,
        cast(sum(cast(round(l_quantity * 100, 0) as bigint)) as double)
          / 100.0 as sum_qty,
        cast(sum(cast(round(l_extendedprice * 100, 0) as bigint)) as double)
          / 100.0 as sum_price,
        cast(count(*) as bigint) as n_rows
 from lineitem group by l_returnflag, l_linestatus"""


def q_rel_join_revenue_by_nation(spark, sf):
    """TPC-H Q5-shaped multi-join rollup: lineitem x orders x customer
    x nation x region, revenue in exact cents (broadcast dims)."""
    register_tables(spark, sf)
    li = spark.table("lineitem").withColumn(
        "_rev", F.round(F.col("l_extendedprice")
                        * (1 - F.col("l_discount")) * 100, 0)
        .cast("bigint"))
    j = (li.join(spark.table("orders"),
                 li.l_orderkey == F.col("o_orderkey"))
         .join(spark.table("customer"),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(spark.table("nation")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .join(F.broadcast(spark.table("region")),
               F.col("n_regionkey") == F.col("r_regionkey")))
    return j.groupBy("r_name", "n_name").agg(
        (F.sum("_rev") / 100.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


def o_rel_join_revenue_by_nation():
    return """
 select r.r_name, n.n_name,
        cast(sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                            * 100, 0) as bigint)) as double) / 100.0
          as revenue,
        cast(count(*) as bigint) as n_items
 from lineitem l
 join orders o on l.l_orderkey = o.o_orderkey
 join customer c on o.o_custkey = c.c_custkey
 join nation n on c.c_nationkey = n.n_nationkey
 join region r on n.n_regionkey = r.r_regionkey
 group by r.r_name, n.n_name"""


def q_rel_anti_join_customers(spark, sf):
    """Left-anti join (E5 relational twin): customers with no orders
    above 450k — count per market segment."""
    register_tables(spark, sf)
    big = spark.table("orders").where("o_totalprice > 450000") \
        .select("o_custkey")
    out = (spark.table("customer")
           .join(big, F.col("c_custkey") == F.col("o_custkey"),
                 "left_anti")
           .groupBy("c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_customers")))
    return out


def o_rel_anti_join_customers():
    return """
 select c_mktsegment, cast(count(*) as bigint) as n_customers
 from customer c
 where not exists (select 1 from orders o
                   where o.o_custkey = c.c_custkey
                     and o.o_totalprice > 450000)
 group by c_mktsegment"""


def q_rel_top_orders_per_cust(spark, sf):
    """Window top-k (G1): 3 biggest orders per customer, deterministic
    tiebreak on o_orderkey."""
    register_tables(spark, sf)
    return spark.sql("""
 select o_custkey, o_orderkey, rn from (
   select o_custkey, o_orderkey,
          row_number() over (partition by o_custkey
                             order by o_totalprice desc, o_orderkey) as rn
   from orders) t where rn <= 3""")


def o_rel_top_orders_per_cust():
    return """
 select o_custkey, o_orderkey, cast(rn as int) as rn from (
   select o_custkey, o_orderkey,
          row_number() over (partition by o_custkey
                             order by o_totalprice desc, o_orderkey) as rn
   from orders) t where rn <= 3"""


from .queries_kernel import KERNEL_QUERIES  # noqa: E402
from .queries_raster import RASTER_QUERIES  # noqa: E402
from .queries_text import TEXT_QUERIES  # noqa: E402
from .queries_web import WEB_QUERIES  # noqa: E402

_LOCAL = {
    "spatial_cell_assign": (q_spatial_cell_assign, o_spatial_cell_assign),
    "spatial_pip_join": (q_spatial_pip_join, o_spatial_pip_join),
    "spatial_pip_precedence": (q_spatial_pip_precedence,
                               o_spatial_pip_precedence),
    "spatial_restriction_max": (q_spatial_restriction_max,
                                o_spatial_restriction_max),
    "spatial_rollup_counts": (q_spatial_rollup_counts,
                              o_spatial_rollup_counts),
    "spatial_clip_area_ha": (q_spatial_clip_area_ha, o_spatial_clip_area_ha),
    "spatial_tile_feature_counts": (q_spatial_tile_feature_counts,
                                    o_spatial_tile_feature_counts),
    "spatial_tile_mixed_counts": (q_spatial_tile_mixed_counts,
                                  o_spatial_tile_mixed_counts),
    "spatial_pip_mixed_join": (q_spatial_pip_mixed_join,
                               o_spatial_pip_mixed_join),
    "spatial_knn": (q_spatial_knn, o_spatial_knn),
    "spatial_knn_pruned": (q_spatial_knn_pruned, o_spatial_knn),
    "spatial_pip_polygon": (q_spatial_pip_polygon, o_spatial_pip_polygon),
    "spatial_polygon_precedence": (q_spatial_polygon_precedence,
                                   o_spatial_polygon_precedence),
    "pages_latest_capture": (q_pages_latest_capture, o_pages_latest_capture),
    "pages_html_invariant": (q_pages_html_invariant,
                             o_pages_html_invariant),
    "text_bytes_invariant": (q_text_bytes_invariant, o_text_bytes_invariant),
    "rel_pricing_summary": (q_rel_pricing_summary, o_rel_pricing_summary),
    "rel_join_revenue_by_nation": (q_rel_join_revenue_by_nation,
                                   o_rel_join_revenue_by_nation),
    "rel_anti_join_customers": (q_rel_anti_join_customers,
                                o_rel_anti_join_customers),
    "rel_top_orders_per_cust": (q_rel_top_orders_per_cust,
                                o_rel_top_orders_per_cust),
}

QUERIES = {**_LOCAL, **KERNEL_QUERIES, **TEXT_QUERIES, **WEB_QUERIES,
           **RASTER_QUERIES}


def queries():
    return {k: v[0] for k, v in QUERIES.items()}


def oracles():
    return {k: v[1]() for k, v in QUERIES.items()}

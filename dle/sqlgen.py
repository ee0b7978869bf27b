"""Deterministic synthetic inputs, emitted as SQL for BOTH engines.

The graft's primary input is a Common-Crawl-style ``pages`` table
(BASELINE.json input_hint: url, warc_ts, html, text, lang) geocoded to
candidate points, overlaid against rectangular designation layers
(FIXTURES.md §1-§3). No external data exists in the sandbox, so both
are derived *arithmetically* from the driver-provided tables
(``orders`` supplies page volume, ``documents`` supplies real unicode
text + language) using only SQL constructs that evaluate bit-identically
in Spark SQL and DuckDB:

  * md5() — the shared deterministic string hash (verified identical)
  * int64 modular LCG arithmetic (MINSTD, modulus 2^31-1)
  * all coordinates integral doubles (exact in float64 in both engines)

That makes every engine query checkable against a plain-SQL DuckDB
oracle at the driver's correctness gate: same pages, same points, same
rectangles, same cells, on both sides.

Reference semantics mirrored here:
  * registry constants stamped per layer — /root/reference/
    designatedlands.py:354-427 (process_order, designation,
    forest/og/mine restriction ints)
  * hot-cell skew (dense coastal cells) — FIXTURES.md §3(c)
  * 2-3 candidate geometries for ~10%% of pages — FIXTURES.md §1
  * ~5%% of urls re-captured a day later (latest-per-url dedup)
"""

from __future__ import annotations

from .config import (HEIGHT_I, WARC_EPOCH0, WIDTH_I, XMIN, YEAR_SECONDS, YMIN)

M31 = 2147483647  # MINSTD modulus


def hex2int(expr: str, dialect: str) -> str:
    """First 60 bits of md5 as a non-negative BIGINT — identical in both
    dialects (verified: Spark conv() == DuckDB hex-literal cast)."""
    if dialect == "spark":
        return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def series(n: int, alias: str, col: str, dialect: str) -> str:
    """Derived table of integers 0..n-1."""
    if dialect == "spark":
        return f"(select explode(sequence(0, {n - 1})) as {col}) {alias}"
    return f"(select unnest(generate_series(0, {n - 1})) as {col}) {alias}"


# Boundary rectangle (bc_boundary_land analogue, FIXTURES.md §4 at the
# oracle-checkable level; the ragged-coastline polygon variant lives in
# tests/ fixtures for the geometry kernel).
BX0 = XMIN + 100000.5
BX1 = XMIN + 1300000.5
BY0 = YMIN + 50000.5
BY1 = YMIN + 1250000.5


def pages_ctes(dialect: str) -> str:
    """CTEs: pages (1 row/url), captures (warc_ts dups), points
    (geocoded candidate points)."""
    h64 = hex2int("url", dialect)
    hy = hex2int("url || ':y'", dialect)
    cand = series(3, "c", "cand_i", dialect)
    return f"""
_p0 as (
  select o_orderkey as page_id,
         concat('https://site', cast(o_orderkey % 1000 as string),
                '.example/p/', cast(o_orderkey as string)) as url,
         o_orderkey % (select count(*) from documents) as _did
  from orders
),
pages as (
  select p.page_id, p.url,
         {h64} as h64,
         {hy} as hy,
         d.text as text, d.lang as lang
  from _p0 p join documents d on d.doc_id = p._did
),
captures as (
  select page_id, url, text, lang, h64, hy, 0 as capture_i,
         {WARC_EPOCH0} + (h64 % {YEAR_SECONDS}) as warc_ts
  from pages
  union all
  select page_id, url, text, lang, h64, hy, 1 as capture_i,
         {WARC_EPOCH0} + (h64 % {YEAR_SECONDS}) + 86400 as warc_ts
  from pages where h64 % 20 = 0
),
points as (
  select p.page_id, p.url, p.h64, p.hy,
         cast(c.cand_i as int) as cand_i,
         cast({XMIN!r} as double) + ((p.h64 + c.cand_i * 7919) % {WIDTH_I}) + 0.5 as px,
         cast({YMIN!r} as double) + ((p.hy + c.cand_i * 104729) % {HEIGHT_I}) + 0.5 as py
  from pages p join {cand}
    on c.cand_i < (case when p.h64 % 10 = 0
                        then 2 + cast(p.h64 % 2 as int) else 1 end)
)"""


def layers_ctes(dialect: str, n_orders: int = 8) -> str:
    """CTEs ending in ``layers``: rectangular designation features with
    registry constants (process_order, designation, restrictions).
    `n_orders` = number of distinct process orders (default 8 for the
    oracle-checked fixtures; 42 reproduces the reference's registry
    scale, sources_designations.csv)."""
    return f"""
_l0 as (
  select doc_id as feat_id,
         (cast(doc_id as bigint) * 48271 + 11) % {M31} as r1
  from documents
),
_l1 as (select *, (r1 * 48271 + 17) % {M31} as r2 from _l0),
_l2 as (select *, (r2 * 48271 + 23) % {M31} as r3 from _l1),
_l3 as (select *, (r3 * 48271 + 29) % {M31} as r4 from _l2),
_l4 as (select *, (r4 * 48271 + 31) % {M31} as r5 from _l3),
_l5 as (
  select feat_id, r1, r2, r3, r4, r5,
         cast(feat_id % {n_orders} as int) + 1 as process_order,
         case when feat_id % 5 = 0
              then cast({XMIN!r} as double) + 250000 + (r1 % 150000) + 0.5
              else cast({XMIN!r} as double) + (r1 % {WIDTH_I - 50000}) + 0.5 end as x0,
         case when feat_id % 5 = 0
              then cast({YMIN!r} as double) + 900000 + (r2 % 150000) + 0.5
              else cast({YMIN!r} as double) + (r2 % {HEIGHT_I - 50000}) + 0.5 end as y0,
         500 + (r3 % 49500) as w,
         500 + (r4 % 49500) as h
  from _l4
),
layers as (
  select feat_id, process_order,
         concat('desig_', lpad(cast(process_order as string), 2, '0'))
           as designation,
         concat('desig_', lpad(cast(process_order as string), 2, '0'),
                '-', cast(feat_id as string)) as src_id,
         concat('name ', cast(feat_id as string)) as src_name,
         x0, y0, x0 + w as x1, y0 + h as y1,
         cast(r5 % 6 as int) as forest_restriction,
         cast((r3 + r5) % 6 as int) as og_restriction,
         cast((r4 + r5) % 6 as int) as mine_restriction
  from _l5
)"""


def tris_ctes(dialect: str, n_orders: int = 8) -> str:
    """CTEs ending in ``tris``: NON-RECTANGULAR designation features —
    axis-legged right triangles (VERDICT r3 #3: every prior spatial
    gate's layer fixture was rectangular, so the flagship E1/E2 path
    had never proven the true-polygon predicate the reference runs,
    /root/reference/sql/create_designations_planarized.sql:60-61).
    Even feat_ids keep the lower-left half of their bbox (diagonal from
    (x1,y0) to (x0,y1)), odd the upper-right half, so both winding
    directions against the diagonal occur.

    BOUNDARY-FREE BY CONSTRUCTION, so engine (float winding test) and
    oracle (exact half-plane arithmetic) can never disagree on a
    borderline point: triangle corners sit on +0.25 offsets while
    points sit on +0.5 offsets (vertical/horizontal edges unreachable),
    and both legs are ≡ 1 (mod 4) so for any point the diagonal
    functional (px-x0)*h + (py-y0)*w differs from w*h by an exact odd
    multiple of 0.5 (never 0). All quantities are integral multiples
    of 0.25 well under 2^53 — bit-exact in float64 in both engines."""
    return f"""
_t0 as (
  select doc_id as feat_id,
         (cast(doc_id as bigint) * 69621 + 3) % {M31} as u1
  from documents
),
_t1 as (select *, (u1 * 69621 + 5) % {M31} as u2 from _t0),
_t2 as (select *, (u2 * 69621 + 9) % {M31} as u3 from _t1),
_t3 as (select *, (u3 * 69621 + 15) % {M31} as u4 from _t2),
tris as (
  select feat_id,
         cast(feat_id % {n_orders} as int) + 1 as process_order,
         concat('desig_', lpad(cast(cast(feat_id % {n_orders} as int) + 1
                as string), 2, '0')) as designation,
         cast(feat_id % 2 as int) as orient,
         cast({XMIN!r} as double) + (u1 % {WIDTH_I - 50005}) + 0.25 as x0,
         cast({YMIN!r} as double) + (u2 % {HEIGHT_I - 50005}) + 0.25 as y0,
         cast({XMIN!r} as double) + (u1 % {WIDTH_I - 50005}) + 0.25
           + 501 + 4 * (u3 % 12375) as x1,
         cast({YMIN!r} as double) + (u2 % {HEIGHT_I - 50005}) + 0.25
           + 501 + 4 * (u4 % 12375) as y1
  from _t3
)"""


def bands_ctes(dialect: str, n_orders: int = 8) -> str:
    """CTEs ending in ``bands``: heavily-overlapping x-intervals inside
    disjoint y-bands, one band family per designation. The engine
    dissolves these as real 2-D polygons through the geometry kernel;
    the oracle computes the identical union area as 1-D interval
    islands (classic gaps-and-islands SQL) — a gate-checkable proof of
    the dissolve operator (SURVEY §2 A2/F1). ``n_orders`` = number of
    precedence levels (42 = the reference's registry scale)."""
    return f"""
_b0 as (
  select doc_id as feat_id,
         (cast(doc_id as bigint) * 16807 + 7) % {M31} as s1
  from documents
),
_b1 as (select *, (s1 * 16807 + 13) % {M31} as s2 from _b0),
_b2 as (select *, (s2 * 16807 + 19) % {M31} as s3 from _b1),
bands as (
  select feat_id,
         cast(feat_id % {n_orders} as int) + 1 as process_order,
         concat('desig_', lpad(cast(cast(feat_id % {n_orders} as int) + 1
                as string), 2, '0')) as designation,
         cast(s3 % 16 as int) as band,
         cast({XMIN!r} as double) + (s1 % 1200000) + 0.5 as bx0,
         cast({YMIN!r} as double) + cast(s3 % 16 as int) * 80000 + 0.5 as by0,
         cast({XMIN!r} as double) + (s1 % 1200000) + 0.5 + 2000 + (s2 % 200000) as bx1,
         cast({YMIN!r} as double) + cast(s3 % 16 as int) * 80000 + 40000.5 as by1
  from _b2
)"""


def preamble(dialect: str, *, pages: bool = True, layers: bool = True,
             bands: bool = False, tris: bool = False,
             n_orders: int = 8) -> str:
    parts = []
    if pages:
        parts.append(pages_ctes(dialect))
    if layers:
        parts.append(layers_ctes(dialect, n_orders))
    if bands:
        parts.append(bands_ctes(dialect, n_orders))
    if tris:
        parts.append(tris_ctes(dialect, n_orders))
    return "with " + ",".join(parts)


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Registration/view memo (OPTIMIZATION r7, guide §5 "the driver should
# do almost no data work" / §6 file-listing cost): register_tables ran
# inside EVERY query call — 10 parquet footer reads + a DataFrame->RDD
# partition probe + 10 temp-view swaps — measured ~1.0 s of pure
# driver-side latency per call at sf0.1, ~30 s across the 30-query
# bench suite. Registration is CATALOG setup, not query work: memoize
# it per (session, dir) with a parquet (size, mtime_ns, inode, ctime_ns)
# fingerprint so regenerated fixtures self-invalidate: a rewrite moves
# ctime even when it keeps size and mtime (the checkpoint-root rule,
# CLAUDE.md). NO query RESULTS are cached anywhere — memoized view
# DataFrames are lazy plans; every action recomputes from the parquet.
_REGISTERED: dict = {}  # id(spark) -> (spark, sf_dir, fingerprint)
_FRAMES: dict = {}      # (id(spark), sf_dir, key) -> (spark, fp, df)


def dir_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the parquet tables under ``sf_dir`` (see
    the memo note above): every memo and checkpoint stage reading the
    dir folds it, so a rewrite under the same path invalidates them."""
    from pathlib import Path
    parts = []
    for t in TABLES:
        p = Path(f"{sf_dir}/{t}.parquet")
        if p.exists():
            st = p.stat()
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}"
                         f":{st.st_ino}:{st.st_ctime_ns}")
    return "|".join(parts)


def _prune_stopped_sessions() -> None:
    for store in (_REGISTERED, _FRAMES):
        for k in list(store):
            sess = store[k][0]
            try:
                alive = sess.sparkContext._jsc is not None
            except Exception:
                alive = False
            if not alive:
                store.pop(k, None)


def register_tables(spark, sf_dir: str) -> None:
    """Register the driver parquet tables as temp views (Spark side of
    the oracle contract; DuckDB side is pre-registered by the driver).

    Small-file fix that matters for everything downstream: the sandbox
    tables are single parquet files with one row group, so every
    generated projection (md5 geocoding etc.) would otherwise execute
    in ONE task no matter the core count. Spreading the fact tables to
    defaultParallelism up front keeps the expensive generated columns
    parallel — at real scale inputs arrive in thousands of splits and
    this repartition is a no-op.

    Memoized per (session, dir, parquet fingerprint) — see the memo
    note above; repeated calls from every query are driver-side no-ops
    until the session changes, the dir changes, or a parquet file under
    the dir is rewritten."""
    from pathlib import Path
    _prune_stopped_sessions()
    fp = dir_fingerprint(sf_dir)
    hit = _REGISTERED.get(id(spark))
    if hit is not None and hit[1] == sf_dir and hit[2] == fp:
        return
    par = spark.sparkContext.defaultParallelism
    for t in TABLES:
        if not Path(f"{sf_dir}/{t}.parquet").exists():
            # user-supplied dirs (jobs/) may carry only the tables a
            # query family needs; a query touching a missing table
            # still fails loudly at analysis
            continue
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t in ("orders", "lineitem", "events", "documents",
                 "embeddings") \
                and df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
        df.createOrReplaceTempView(t)
    _REGISTERED[id(spark)] = (spark, sf_dir, fp)


def memo_frame(spark, sf_dir, key, build):
    """Memoize a LAZY generated-input DataFrame per (session, dir, key,
    parquet fingerprint): plans only, every action recomputes from the
    parquet inputs. Used by spark_view and by datagen's WKB fixture
    builders, whose per-call SQL parse + UDF plan construction is
    identical every time."""
    fp = dir_fingerprint(sf_dir) if sf_dir is not None else ""
    k = (id(spark), sf_dir, key)
    hit = _FRAMES.get(k)
    if hit is not None and hit[0] is spark and hit[1] == fp:
        return hit[2]
    df = build()
    _FRAMES[k] = (spark, fp, df)
    return df


def spark_view(spark, sf_dir: str, name: str):
    """Materialize one generated CTE tree as a DataFrame (engine input).

    The returned DataFrame is a LAZY analyzed plan memoized per
    (session, dir, name, parquet fingerprint): building it costs a
    full SQL parse + analysis of the generated CTE preamble (~0.2-0.3 s
    of driver time), identical on every call. Every action on the
    memoized frame still recomputes from the parquet inputs — an
    analyzed plan binds the file relations, never results."""
    register_tables(spark, sf_dir)

    def build():
        need_pages = name in ("pages", "captures", "points")
        need_bands = name == "bands"
        need_tris = name == "tris"
        pre = preamble("spark", pages=need_pages, bands=need_bands,
                       tris=need_tris,
                       layers=not (need_pages or need_bands or need_tris))
        return spark.sql(f"{pre} select * from {name}")

    return memo_frame(spark, sf_dir, ("view", name), build)

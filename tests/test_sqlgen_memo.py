"""Registration/view memoization (OPTIMIZATION r7): register_tables and
spark_view are memoized per (session, dir, parquet fingerprint) — the
per-query re-registration cost was ~1 s of driver latency. These tests
pin the contract: plans are reused, RESULTS are never cached, and a
rewritten parquet file under the same path self-invalidates the memo.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from dle import sqlgen

SF_SMOKE = "/root/testdata/sf0.001"


def _clone_sf(tmp_path: Path) -> str:
    d = tmp_path / "sf"
    d.mkdir()
    for p in Path(SF_SMOKE).glob("*.parquet"):
        shutil.copy(p, d / p.name)
    return str(d)


def test_spark_view_memo_hit_and_recompute(spark):
    a = sqlgen.spark_view(spark, SF_SMOKE, "pages")
    b = sqlgen.spark_view(spark, SF_SMOKE, "pages")
    assert a is b  # lazy plan reused
    # results are computed per action, not cached: two actions agree
    # and run the full plan (count twice is cheap at smoke scale)
    assert a.count() == b.count() > 0


def test_register_memo_invalidates_on_file_change(spark, tmp_path):
    d = _clone_sf(tmp_path)
    v1 = sqlgen.spark_view(spark, d, "documents")
    n1 = v1.count()
    assert n1 > 0
    # rewrite documents.parquet with fewer rows: fingerprint changes,
    # the memo must re-register and rebuild the view
    docs = spark.read.parquet(f"{d}/documents.parquet").limit(3)
    pdf = docs.toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pandas(pdf), f"{d}/documents.parquet")
    v2 = sqlgen.spark_view(spark, d, "documents")
    assert v2 is not v1
    assert v2.count() == 3


def test_register_memo_invalidates_on_same_size_same_mtime_rewrite(
        spark, tmp_path):
    """A rewrite that keeps the byte size and restores the old mtime
    still invalidates the memo: every rewrite (and the utime call
    itself) moves the file's ctime."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = _clone_sf(tmp_path)
    path = f"{d}/documents.parquet"
    table = pq.read_table(path)
    # plain encoding, no statistics: equal-width values give equal size
    plain = dict(compression="NONE", use_dictionary=False,
                 write_statistics=False)
    pq.write_table(table, path, **plain)
    st1 = os.stat(path)
    v1 = sqlgen.spark_view(spark, d, "documents")
    s1 = v1.agg(F.sum("n_chars")).first()[0]
    i = table.schema.get_field_index("n_chars")
    bumped = table.set_column(i, "n_chars",
                              pc.add(table.column("n_chars"), 1))
    pq.write_table(bumped, path, **plain)
    os.utime(path, ns=(st1.st_atime_ns, st1.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st1.st_size, st1.st_mtime_ns)
    v2 = sqlgen.spark_view(spark, d, "documents")
    assert v2 is not v1
    assert v2.agg(F.sum("n_chars")).first()[0] == s1 + table.num_rows


def test_memo_keys_distinct_dirs(spark, tmp_path):
    d = _clone_sf(tmp_path)
    a = sqlgen.spark_view(spark, SF_SMOKE, "documents")
    b = sqlgen.spark_view(spark, d, "documents")
    assert a is not b
    assert a.count() == b.count()  # same content, independent plans

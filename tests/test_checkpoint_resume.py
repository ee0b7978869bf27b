"""Checkpointed stages: idempotent commits, zero-row stages, a
finished stage resumed from its record alone, and kill/resume for the
checkpointed precedence stage (north rule: "resumable from checkpoint
with per-partition lineage + metrics"; VERDICT r1 next-steps #9 +
ADVICE medium finding)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dle.plans import pipeline
from dle.plans.checkpoint import Manifest, run_stage

SF = "/root/testdata/sf0.001"


def _input(spark):
    return spark.createDataFrame(
        [("000", 1), ("000", 2), ("001", 3), ("002", 4)],
        "cell string, v int")


def test_run_stage_recommit_is_idempotent(spark, tmp_path):
    """A crash between the parquet commit and the record write must NOT
    duplicate rows on the rebuild: its overwrite replaces the whole
    stage directory."""
    man = Manifest(str(tmp_path / "m"))
    df = _input(spark)
    out = run_stage(spark, man, "s", "fp", lambda: df, str(tmp_path / "o"))
    assert out.count() == 4
    # simulate the crash: parquet committed, record lost
    man.clear("s")
    out2 = run_stage(spark, man, "s", "fp", lambda: df,
                     str(tmp_path / "o"))
    assert out2.count() == 4  # not 8
    assert man.record("s")["cells"] == {"000": 2, "001": 1, "002": 1}


def test_run_stage_record_counts_cells(spark, tmp_path):
    """The stage record holds the per-cell row counts of the frame the
    call returns, and their total."""
    man = Manifest(str(tmp_path / "m"))
    df = _input(spark).union(spark.createDataFrame(
        [("003", 5), ("003", 6), ("003", 7)], "cell string, v int"))
    out = run_stage(spark, man, "s", "fp", lambda: df, str(tmp_path / "o"))
    rec = man.record("s")
    assert rec["cells"] == {r["cell"]: r["count"] for r in
                            out.groupBy("cell").count().collect()}
    assert rec["rows"] == out.count() == 7


def test_run_stage_keeps_quadkey_strings_under_type_inference(
        spark, tmp_path):
    """With partition-column type inference on (a plain session's
    default), the computing call and the resuming call return the same
    `cell` strings: quadkeys keep their leading zeros."""
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        man = Manifest(str(tmp_path / "m"))
        df = spark.createDataFrame([("0232", 1), ("0001", 2)],
                                   "cell string, v int")

        def cells():
            out = run_stage(spark, man, "s", "fp", lambda: df,
                            str(tmp_path / "o"))
            return sorted(r["cell"] for r in out.collect())

        assert cells() == cells() == ["0001", "0232"]
    finally:
        spark.conf.set(conf, prev)


def test_run_stage_failed_rebuild_leaves_no_stale_resume(spark, tmp_path):
    """A stage committed under fingerprint A, then a rebuild under B
    that raises mid-write: a call under A builds the stage again and
    returns its rows, not the directory the failed write emptied."""
    man = Manifest(str(tmp_path / "m"))
    df = _input(spark)
    want = sorted(run_stage(spark, man, "s", "A", lambda: df,
                            str(tmp_path / "o")).collect())
    with pytest.raises(Exception, match="raised on cell 001"):
        run_stage(spark, man, "s", "B",
                  lambda: df.mapInPandas(_raise_on(["001"]), df.schema),
                  str(tmp_path / "o"))
    assert man.record("s") is None
    calls = []

    def build():
        calls.append(1)
        return df

    got = run_stage(spark, man, "s", "A", build, str(tmp_path / "o"))
    assert calls and sorted(got.collect()) == want


def test_run_stage_unreadable_record_rebuilds(spark, tmp_path):
    """A manifest file that does not parse is no record: the stage is
    built again, and the rebuild does not double its rows."""
    man = Manifest(str(tmp_path / "m"))
    df = _input(spark)
    run_stage(spark, man, "s", "fp", lambda: df, str(tmp_path / "o"))
    rec = man.record("s")
    man._path("s").write_bytes(b'{"stage": "s", "fingerp\x00')
    calls = []

    def build():
        calls.append(1)
        return df

    out = run_stage(spark, man, "s", "fp", build, str(tmp_path / "o"))
    assert calls and out.count() == 4
    assert man.record("s")["cells"] == rec["cells"]


def test_run_stage_zero_row_stage_no_crash(spark, tmp_path):
    """ADVICE r2 (medium): a stage with ZERO output rows writes no
    parquet part files; run_stage must not crash on the read-back,
    must return an empty frame with the build schema, and must record
    the stage as done so resumes skip it."""
    man = Manifest(str(tmp_path / "m"))
    empty = _input(spark).where("v > 99")
    out = run_stage(spark, man, "s", "fp", lambda: empty,
                    str(tmp_path / "o"))
    assert out.count() == 0
    assert set(out.columns) == {"cell", "v"}
    rec = man.record("s")
    assert rec["rows"] == 0 and rec["cells"] == {}
    # re-entry is also crash-free and leaves the record as it was
    out2 = run_stage(spark, man, "s", "fp", lambda: empty,
                     str(tmp_path / "o"))
    assert out2.count() == 0
    assert man.record("s") == rec


@pytest.mark.parametrize("where", ["true", "v > 99"],
                         ids=["rows", "zero_rows"])
def test_run_stage_complete_stage_starts_no_job(spark, tmp_path, where):
    """A stage whose record matches resumes from the record alone:
    build is never called, no job runs in the call's job group, and
    the frame has the computing call's schema, column order and rows
    (an empty frame of the build schema for a stage with no output)."""
    sc = spark.sparkContext
    man = Manifest(str(tmp_path / "m"))
    df = _input(spark).where(where)
    calls = []

    def build():
        calls.append(1)
        return df

    def in_group(group):
        sc.setJobGroup(group, group)
        try:
            out = run_stage(spark, man, "s", "fp", build,
                            str(tmp_path / "o"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    first, first_jobs = in_group(f"ckpt-compute-{where}")
    assert len(calls) == 1 and first_jobs
    rec = man.record("s")
    resumed, resumed_jobs = in_group(f"ckpt-resume-{where}")
    assert len(calls) == 1
    assert resumed_jobs == []
    assert resumed.schema == first.schema  # column order included
    assert sorted(resumed.collect()) == sorted(first.collect())
    assert man.record("s") == rec
    if where != "true":
        assert resumed.schema == df.schema


def test_run_stage_cell_without_output_reruns_no_cell(spark, tmp_path):
    """An input cell whose output is empty is not recomputed on a
    rerun: the completed stage folds no input row at all."""
    man = Manifest(str(tmp_path / "m"))
    src = _input(spark)

    def build(guard=False):
        kept = src.mapInPandas(_raise_on(), src.schema) if guard else src
        return kept.where("cell <> '002'")

    out = run_stage(spark, man, "s", "fp", build, str(tmp_path / "o"))
    assert out.count() == 3
    rec = man.record("s")
    out2 = run_stage(spark, man, "s", "fp", lambda: build(guard=True),
                     str(tmp_path / "o"))
    assert out2.count() == 3
    assert man.record("s") == rec


def _rollup(df):
    from dle.operators.overlay import with_area
    return {
        (r["cell"], r["designation"]): round(r["a"], 3)
        for r in with_area(df).groupBy("cell", "designation")
        .agg(F.sum("area_m2").alias("a")).collect()}


def _raise_on(cells=None):
    """mapInPandas body raising on any row of `cells` (every row when
    None): an executor-side failure bound to a cell."""
    def check(batches):
        for pdf in batches:
            hit = pdf["cell"] if cells is None \
                else pdf["cell"][pdf["cell"].isin(cells)]
            if len(hit):
                raise RuntimeError(f"raised on cell {hit.iloc[0]}")
            yield pdf
    return check


def _guard_fold(monkeypatch, cells=None):
    """Make any row of `cells` reaching the fold's input raise."""
    real = pipeline.insert_difference_fused
    monkeypatch.setattr(
        pipeline, "insert_difference_fused",
        lambda src, **kw: real(
            src.mapInPandas(_raise_on(cells), src.schema), **kw))


def test_precedence_stage_resumes_after_kill(spark, tmp_path,
                                             monkeypatch):
    """An executor dies mid-fold on one cell; the stage commits nothing,
    and a rerun against the same root matches the uncheckpointed run."""
    ckpt = str(tmp_path / "ck")
    baseline = _rollup(pipeline.process_vector(spark, SF,
                                               depth=2).designatedlands)
    cells = sorted({c for c, _ in baseline})
    victim = cells[len(cells) // 2]
    real = pipeline.insert_difference_fused

    def dying(src, **kw):
        out = real(src, **kw)
        return out.mapInPandas(_raise_on([victim]), out.schema)

    monkeypatch.setattr(pipeline, "insert_difference_fused", dying)
    with pytest.raises(Exception, match=f"raised on cell {victim}"):
        pipeline.process_vector(spark, SF, depth=2, ckpt_root=ckpt)
    monkeypatch.undo()
    assert Manifest(f"{ckpt}/manifest").record("precedence") is None

    resumed = pipeline.process_vector(spark, SF, depth=2,
                                      ckpt_root=ckpt)
    assert _rollup(resumed.designatedlands) == baseline


def test_precedence_stage_drops_eclipsed_designation(spark, tmp_path,
                                                     monkeypatch):
    """A designation lying wholly inside an earlier layer gets no
    output, and a resume against the complete root runs the fold on no
    cell and commits nothing."""
    from pyspark.sql import Window

    ckpt = str(tmp_path / "ck")
    real = pipeline.insert_difference_fused

    def with_eclipsed(src, **kw):
        # every piece of each cell's first designation again, as the
        # last layer: the earlier copy covers it exactly (the fold
        # unions both copies to the same bytes; one piece alone is not
        # exactly inside that union after snap rounding)
        w = Window.partitionBy("cell").orderBy("process_order",
                                               "designation")
        first = src.withColumn("_r", F.dense_rank().over(w)) \
            .where("_r = 1").drop("_r")
        shadow = first.withColumn("designation", F.lit("eclipsed")) \
            .withColumn("process_order", F.lit(99).cast(
                src.schema["process_order"].dataType))
        return real(src.unionByName(shadow), **kw)

    monkeypatch.setattr(pipeline, "insert_difference_fused",
                        with_eclipsed)
    first = pipeline.process_vector(spark, SF, depth=2, ckpt_root=ckpt)
    desigs = {r["designation"] for r in
              first.designatedlands.select("designation")
              .distinct().collect()}
    assert desigs and "eclipsed" not in desigs
    man = Manifest(f"{ckpt}/manifest")
    rec = man.record("precedence")
    assert rec

    monkeypatch.undo()
    _guard_fold(monkeypatch)
    resumed = pipeline.process_vector(spark, SF, depth=2,
                                      ckpt_root=ckpt)
    assert {r["designation"] for r in
            resumed.designatedlands.select("designation")
            .distinct().collect()} == desigs
    assert man.record("precedence") == rec


def test_pipeline_resume_rollup_reruns_on_same_size_same_mtime_rewrite(
        spark, tmp_path, monkeypatch):
    """Rewriting the input under the same path, at the same byte size
    and with the old mtime restored, invalidates the checkpointed
    stage: the next call returns the figures of the new data, not the
    output resumed from the old root."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dle import resultcheck
    from dle.queries_kernel import (
        o_pipeline_resume_rollup, q_pipeline_resume_rollup,
    )

    # checkpoint roots live under the temp dir: keep them in tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = tmp_path / "sf"
    d.mkdir()
    for f in Path(SF).glob("*.parquet"):
        shutil.copy(f, d / f.name)
    d = str(d)
    path = f"{d}/documents.parquet"
    table = pq.read_table(path)
    # plain encoding, no statistics: equal-width values give equal size
    plain = dict(compression="NONE", use_dictionary=False,
                 write_statistics=False)
    pq.write_table(table, path, **plain)
    st1 = os.stat(path)

    def check():
        df = q_pipeline_resume_rollup(spark, d)
        rows = [tuple(r) for r in df.collect()]
        con = resultcheck.duck_views(d)
        problems = resultcheck.compare(
            df.columns, rows, df.schema, con.sql(o_pipeline_resume_rollup()))
        con.close()
        assert problems == []
        return sorted(rows)

    before = check()
    # bands derive from doc_id: shifted ids move every band
    i = table.schema.get_field_index("doc_id")
    pq.write_table(table.set_column(
        i, "doc_id", pc.add(table.column("doc_id"), 1000)), path, **plain)
    os.utime(path, ns=(st1.st_atime_ns, st1.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st1.st_size, st1.st_mtime_ns)
    assert check() != before


def test_dissolve_explode_parts_empty_group(spark):
    """ADVICE r1: a group whose union is empty (all-degenerate geoms)
    must return an empty frame WITH part_i when explode_parts is set."""
    import numpy as np

    from dle.geom import wkb
    from dle.operators.overlay import dissolve

    # 1 cm wide sliver: snaps to zero width at GRID=0.1 m
    tiny = wkb.polygon_wkb([np.array(
        [[0.0, 0.0], [0.01, 0.0], [0.01, 5.0], [0.0, 5.0], [0.0, 0.0]])])
    ok = wkb.polygon_wkb([np.array(
        [[10.0, 0.0], [20.0, 0.0], [20.0, 10.0], [10.0, 10.0],
         [10.0, 0.0]])])
    df = spark.createDataFrame(
        [("a", bytearray(tiny)), ("b", bytearray(ok))],
        "k string, geom binary")
    out = dissolve(df, ["k"], explode_parts=True).collect()
    ks = {r["k"] for r in out}
    assert ks == {"b"}
    assert all(r["part_i"] == 0 for r in out)


def test_asof_join_deterministic_on_ts_ties(spark):
    """ADVICE r1: equal (key, right_ts) rows with different payloads
    must resolve identically regardless of input row order."""
    from dle.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100)], "k int, lts bigint")
    rows = [(1, 50, "x"), (1, 50, "y"), (1, 50, "z")]
    r1 = spark.createDataFrame(rows, "k int, rts bigint, p string")
    r2 = spark.createDataFrame(rows[::-1], "k int, rts bigint, p string")
    a = asof_join(left, r1, on="k", left_ts="lts",
                  right_ts="rts").collect()
    b = asof_join(left, r2.repartition(3), on="k", left_ts="lts",
                  right_ts="rts").collect()
    assert a[0]["p"] == b[0]["p"] == "z"


def test_asof_join_forward_and_nearest(spark):
    """VERDICT r2 #9: forward = earliest right >= left (FIRST among
    equal ts), nearest = smaller |delta| with exact ties backward."""
    from dle.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 201), (1, 400)], "k int, lts bigint")
    right = spark.createDataFrame(
        [(1, 90, "b1"), (1, 150, "f1a"), (1, 150, "f1b"), (1, 300, "x")],
        "k int, rts bigint, p string")

    fwd = {r["lts"]: (r["rts"], r["p"]) for r in asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        direction="forward").collect()}
    assert fwd[100] == (150, "f1a")   # FIRST among equal rts
    assert fwd[201] == (300, "x")
    assert fwd[400] == (None, None)   # nothing after -> nulls

    near = {r["lts"]: (r["rts"], r["p"]) for r in asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        direction="nearest").collect()}
    assert near[100] == (90, "b1")    # |10| beats |50|
    assert near[201] == (150, "f1b")  # |51| beats |99|; LAST among ==
    assert near[400] == (300, "x")

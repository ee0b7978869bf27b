"""The per-layer profile of perfbench's Tracer (the one profiler) reads
non-zero Spark, Python-UDF and kernel figures for one Arrow-kernel gate,
with the Spark UI off as dle.session sets it."""

from __future__ import annotations

import time

from dle import queries as q
from perfbench.layers import Tracer, ckpt_snapshot

SF = "/root/testdata/sf0.001"
GATE = "overlay_dissolve_area_1d"


def test_tracer_profile_fields(spark, tmp_path):
    sc = spark.sparkContext
    tracer = Tracer(spark, sc.defaultParallelism)
    group = f"profile-fields-{GATE}"
    snap = ckpt_snapshot(tmp_path)
    tracer.profile(True)
    try:
        sc.setJobGroup(group, GATE)
        e0, t0 = time.time(), time.perf_counter()
        df = q.queries()[GATE](spark, SF)
        tb = time.perf_counter()
        assert df.collect()
        t1 = time.perf_counter()
        tracer.record(GATE, group, e0, e0 + (tb - t0), e0 + (t1 - t0),
                      snap, snap, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.profile(False)
    m = tracer.metrics(untraced_wall=0.0)
    for field in ("spark.jobs", "spark.stages", "spark.tasks",
                  "udf.rows_from_python", "kernel.boolean.calls"):
        assert m[field] > 0, field

"""Bench harness: headline engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

Set BENCH_SCALING=1 to also run the flagship at local[N] and local[4N]
on identical input and report throughput + scaling efficiency (the
sandbox evidence for the north rule's two-cluster-size criterion; see
BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dle import queries as q  # noqa: E402
from dle.session import get_spark  # noqa: E402

# HEADLINE is a subset of the registry, not all of it: the suite must
# stay inside its ~120 s wall-time budget at sf0.1. Every registered
# query is still checked against its oracle by Tier-1.
HEADLINE = [
    "spatial_pip_precedence",
    "spatial_clip_area_ha",
    "rel_pricing_summary",
    "rel_top_orders_per_cust",
    "spatial_knn_pruned",
    "rel_join_revenue_by_nation",
    "dedup_exact",
    "text_stats",
    "multimodal_decode_stats",
    "raster_zonal_stats",
    "overlay_precedence_area_42",
    "range_join_promos",
    "pages_host_rollup",
    "text_repetition",
    "vocab_topk",
    "pack_sequences",
    "text_length_quantiles",
    "corpus_filter_stats",
    "overlay_precedence_multi",
    "spatial_tile_mixed_counts",
    "spatial_pip_mixed_join",
    "text_pii_redact",
    "qa_compare_designation",
    "boundary_build_area",
    "quality_score_trained",
    "dedup_survivors",
    "decon_report",
    "dedup_semantic",
    "ann_pq_topk",
    "bpe_train_merges",
]


REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))


def run_suite(spark, sf_dir):
    """Each query executes REPS times, min taken: the sandbox host is
    shared, and single-shot timings swing 2-5x with ambient load
    (measured; see BENCH/BASELINE.md variance note). min-of-2 keeps
    the suite honest about engine cost without tripling wall time."""
    qs = q.queries()
    times = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        best = None
        for _ in range(max(1, REPS)):
            t0 = time.perf_counter()
            # count() forces full execution w/o driver-side collect cost
            qs[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 2)
    return times


def n_docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("dle-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # warm BOTH execution paths once so timings measure the engine:
    # a JVM/codegen query and an Arrow-kernel query (spins up the
    # Python worker pool + numpy import in every worker)
    q.queries()["spatial_rollup_counts"](spark, sf_dir).count()
    q.queries()["overlay_dissolve_area_1d"](spark, sf_dir).count()
    times = run_suite(spark, sf_dir)
    total = round(sum(times.values()), 2)
    docs = n_docs(spark, sf_dir)
    flag = times.get("spatial_pip_precedence", total) or total
    # VERDICT r3 #2: the r3 JSON line (46 times + 46 row counts) outgrew
    # the driver's tail-capture window and recorded as "parsed": null.
    # Row counts are CORRECTNESS's job, so they are gone; times are 2dp;
    # separators= strips whitespace; stdout is flushed and the JSON is
    # the FINAL line this process prints.
    out = {
        "metric": "overlay+dissolve headline suite wall time",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "docs": docs,
        "docs_per_sec": round(docs / flag, 1) if flag else None,
        "cpus": cpus,
        "reps": REPS,
    }
    spark.stop()
    sys.stdout.flush()
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()

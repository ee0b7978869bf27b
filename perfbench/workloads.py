"""The benchmark's workloads: which registry ops run, on what input.

Each op is one ``__spark_entry__.queries()`` entry whose result is
collected and hashed. Sizes are small on purpose: at this scale every op
is dominated by per-job and per-stage cost, which is what a 4-core box
can measure steadily in a few seconds.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    item: str
    inputs: dict = field(default_factory=dict)
    # items per sequence: an input-size key, or a fixed count
    items: str | int = "pages"
    # index into `ops` of the call re-run against a complete checkpoint
    resume_op: int | None = None


WORKLOADS = {
    # BASELINE's main flow: md5 geocoding, cell index joins, the polygon
    # fold (the only slab-kernel op here) and the pruned kNN.
    "pages_overlay": Workload(
        ops=("spatial_pip_precedence", "spatial_rollup_counts",
             "spatial_pip_mixed_join", "spatial_polygon_precedence",
             "spatial_knn_pruned", "pages_latest_capture"),
        item="page",
        inputs={"n_docs": 500, "n_pages": 3000},
        items="pages"),
    # The only writing workload: the per-layer precedence loop into a
    # fresh checkpoint root, the same call again against the complete
    # root (every stage skipped), then the two-drain streaming resume.
    "resumable_build": Workload(
        ops=("pipeline_resume_rollup", "pipeline_resume_rollup",
             "streaming_resume_rollup"),
        item="precedence layer",
        inputs={"n_docs": 200, "n_pages": 200, "n_events": 2000,
                "doc_offset": True},
        items=8,
        resume_op=1),
    # Kernel-heavy overlay at 42 precedence orders. Not in BENCHMARK.json:
    # one sequence takes ~40 s on 4 cores.
    "designated_lands": Workload(
        ops=("qa_compare_designation", "overlay_precedence_area_42",
             "boundary_build_area", "overlay_clip_area",
             "raster_zonal_stats"),
        item="designation feature",
        inputs={"n_docs": 200, "n_pages": 200, "doc_offset": True},
        items="documents"),
    # Text curation, no geometry. Not in BENCHMARK.json (run budget).
    "corpus_curation": Workload(
        ops=("dedup_survivors", "dedup_semantic", "decon_report",
             "ann_pq_topk", "bpe_train_merges", "text_repetition"),
        item="document",
        inputs={"n_docs": 500, "n_pages": 1000, "dup_share": 0.2},
        items="documents"),
}

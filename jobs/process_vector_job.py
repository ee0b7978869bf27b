"""spark-submit entry point for the full vector pipeline.

    python tools/make_pyfiles.py
    spark-submit --master <cluster> --py-files dist/dle.zip \
        jobs/process_vector_job.py <sf_dir> <out_dir> [depth]

Runs A4 -> A5/A6 precedence -> A7 planarize, with the precedence and
planarized stages checkpointed under <out_dir>: a rerun against the
same input resumes each committed stage whole instead of building it.
Dumps the precedence layer and writes the QA totals JSON to <out_dir>.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

# local runs without --py-files: repo root on path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession  # noqa: E402


def main():
    # --config FILE: reference-format INI merged over defaults
    # (designatedlands.py:265-285); positional args still win
    from dle.config import pop_config
    argv = sys.argv[1:]
    cfg = pop_config(argv)
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.001"
    out_dir = argv[1] if len(argv) > 1 else cfg["out_path"]
    depth = int(argv[2]) if len(argv) > 2 else cfg["depth"]

    spark = SparkSession.builder.appName("dle-process-vector") \
        .getOrCreate()
    from dle.plans.pipeline import process_vector, qa_frames
    from dle.plans.checkpoint import Manifest, run_stage
    from dle.sqlgen import dir_fingerprint
    from dle.sources.io import dump

    from dle import telemetry
    telemetry.enable(spark)  # lossy-fallback counter in qa output

    man = Manifest(f"{out_dir}/manifest")
    # ckpt_root => the precedence fold commits to reliable storage
    # (resume-safe on executor loss).
    out = process_vector(spark, sf_dir, depth=depth,
                         ckpt_root=f"{out_dir}/stages")
    fingerprint = f"{sf_dir}|{dir_fingerprint(sf_dir)}|depth={depth}|v2"
    planar = run_stage(spark, man, "planarized", fingerprint,
                       lambda: out.planarized, out_dir)
    dump(out.designatedlands, f"{out_dir}/designatedlands")
    # qa reads the committed faces instead of planarizing again
    totals = qa_frames(out.boundary_tiled, out.overlapping,
                       planar).totals.collect()[0]
    qa_flat = {
        "total_land_ha": totals["land_m2"] / 1e4,
        "total_planarized_ha": totals["planarized_m2"] / 1e4,
        "n_faces": man.record("planarized")["rows"],
        # ring fragments the kernels dropped defensively (the
        # reference's NOTICE per lossy repair,
        # sql/ST_Safe_Difference.sql:70-80), summed over executors
        "lossy_fragments": telemetry.LOSSY_ACC.value,
    }
    with open(f"{out_dir}/qa.json", "w") as f:
        json.dump(qa_flat, f, indent=2)
    print(json.dumps(qa_flat))


if __name__ == "__main__":
    main()

"""Checkpointed pipeline stages, resumed whole (north rule: "resumable
from checkpoint with per-partition lineage + metrics").

The Spark-idiomatic analogue of the reference's stage-level "already
loaded" skips (designatedlands.py:503, :549-561). A
stage is one `df.write` job, which Spark commits whole or not at all,
so the only resume state is one record per stage, written after the
parquet commit and its read-back: the input fingerprint, the total
rows, the per-cell row counts, the schema of the returned frame, the
write's wall time and a timestamp.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


class Manifest:
    """One JSON record per stage, in `<root>/<stage>.manifest.jsonl`."""

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _path(self, stage: str) -> Path:
        return self.root / f"{stage}.manifest.jsonl"

    def record(self, stage: str) -> dict | None:
        """The stage's record; None when there is none or it does not
        parse."""
        try:
            return json.loads(self._path(stage).read_text())
        except (OSError, ValueError):
            return None

    def write(self, stage: str, rec: dict) -> None:
        """Replace the stage's record: a temp file, then `os.replace`,
        so a reader sees the old record or the new one, never a torn
        one."""
        tmp = self.root / f"{stage}.manifest.tmp"
        tmp.write_text(json.dumps(rec) + "\n")
        os.replace(tmp, self._path(stage))

    def clear(self, stage: str) -> None:
        self._path(stage).unlink(missing_ok=True)


def run_stage(spark, manifest: Manifest, stage: str, fingerprint: str,
              build, out_root: str) -> DataFrame:
    """Resume or build one pipeline stage, whole.

    A record that matches ``fingerprint`` returns the committed parquet
    read with the stored schema, a zero-row stage included: ``build``
    is not called and no Spark job runs, unless the stage has more cell
    directories than ``spark.sql.sources.parallelPartitionDiscovery.
    threshold`` (32 by default), which Spark lists with a job.

    Otherwise the record is cleared, ``build()``'s frame overwrites the
    whole stage directory, partitioned by ``cell``, and the record is
    written only once the output has been read back (with the build
    schema, so `cell` stays a string under partition-column type
    inference) and counted per cell. A kill or a failure before that
    leaves no record, and the next call builds the stage again."""
    out_dir = str(Path(out_root) / stage)
    rec = manifest.record(stage)
    if rec is not None and rec.get("fingerprint") == fingerprint:
        return spark.read.schema(StructType.fromJson(rec["schema"])) \
            .parquet(out_dir)
    manifest.clear(stage)
    df = build()
    t0 = time.perf_counter()
    df.write.mode("overwrite").partitionBy("cell").parquet(out_dir)
    wall_ms = int(1000 * (time.perf_counter() - t0))
    result = spark.read.schema(df.schema).parquet(out_dir)
    cells = {r["cell"]: r["count"]
             for r in result.groupBy("cell").count().collect()}
    manifest.write(stage, {
        "stage": stage, "fingerprint": fingerprint,
        "rows": sum(cells.values()), "cells": cells,
        "schema": result.schema.jsonValue(),
        "wall_ms": wall_ms, "ts": int(time.time())})
    return result

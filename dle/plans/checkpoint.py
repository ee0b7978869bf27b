"""Per-partition lineage + metrics checkpoint manifest (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

The Spark-idiomatic analogue of the reference's stage-level
"already loaded" skips (/root/reference/designatedlands.py:503,
:549-561) and sha-named download dirs (:167), but finer grained: one
manifest row per (stage, cell) with the input fingerprint, row count
and wall time, and after them one stage-completion row (cell
`STAGE_DONE`) with the stage's total row count and the schema of the
frame it returned.

A stage whose completion row matches the fingerprint resumes from the
manifest alone: its parquet is re-read with the stored schema, and
nothing is built, written or counted. Otherwise a stage's ``build_df``
gets the completed cells and removes them from the input of its
grouped UDFs with `prune`, so a killed job redoes only unfinished
cells. Spark keeps a filter on a stage's output above
``FlatMapGroupsInPandas``; pruning the output would still run every
done cell through the kernel.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType


# manifest cell name of the stage-completion row, always the last row a
# successful run_stage appends; never collides with real cells
# (quadkeys / cell ids)
STAGE_DONE = "__stage_done__"


class Manifest:
    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _path(self, stage: str) -> Path:
        return self.root / f"{stage}.manifest.jsonl"

    def rows(self, stage: str) -> list[dict]:
        p = self._path(stage)
        if not p.exists():
            return []
        out = []
        for ln in p.read_text().splitlines():
            if not ln:
                continue
            try:
                out.append(json.loads(ln))
            except json.JSONDecodeError:
                # torn final line from a kill mid-append: ignore it —
                # the affected cells simply recompute, and the
                # dynamic-partition-overwrite commit makes that safe
                continue
        return out

    def done_cells(self, stage: str, fingerprint: str) -> set[str]:
        return {r["cell"] for r in self.rows(stage)
                if r["fingerprint"] == fingerprint and r["status"] == "ok"}

    def append(self, stage: str, recs: list[dict]) -> None:
        with self._path(stage).open("ab+") as f:
            # end a torn last line first, or the first record would be
            # glued onto it and lost with it
            if f.seek(0, 2):
                f.seek(-1, 2)
                if f.read(1) != b"\n":
                    f.write(b"\n")
            f.write("".join(json.dumps(r) + "\n" for r in recs).encode())

    def clear(self, stage: str) -> None:
        self._path(stage).unlink(missing_ok=True)


def prune(df: DataFrame, skip_cells, col: str = "cell") -> DataFrame:
    """`df` without the rows of `skip_cells`."""
    return df.filter(~F.col(col).isin(list(skip_cells))) if skip_cells \
        else df


def run_stage(spark, manifest: Manifest, stage: str, fingerprint: str,
              build_df, out_root: str, partition_col: str = "cell",
              planned_cells: list[str] | None = None) -> DataFrame:
    """Compute-or-resume one pipeline stage.

    A stage whose manifest holds a completion row for ``fingerprint``
    is returned as its committed parquet read with the stored schema
    (an empty frame of that schema when it has no rows): ``build_df``
    is not called and no Spark job runs, unless the stage has more cell
    directories than ``spark.sql.sources.parallelPartitionDiscovery.
    threshold`` (32 by default), which Spark lists with a job. A changed
    fingerprint invalidates everything.

    Otherwise ``build_df(skip_cells: set[str]) -> DataFrame`` must
    `prune` the given completed cells from the input of its grouped
    UDFs. Its output is pruned again, so a ``build_df`` that cannot
    prune still leaves the committed partitions untouched. Output
    parquet is partitioned by cell; the call appends one row per new
    cell and then the completion row with the total row count and the
    schema of the returned frame. When the caller supplies
    ``planned_cells`` (the cell universe for the stage), zero-row cells
    get a row too.

    Crash-safe by construction: the parquet commit uses DYNAMIC
    partition overwrite, so a cell interrupted between its parquet
    commit and its manifest append is simply recomputed on resume and
    REPLACES its partition — never appends a duplicate. A kill before
    the append ends, or a torn last line, leaves no completion row, so
    the next call takes the per-cell path."""
    out_dir = Path(out_root) / stage
    rows = manifest.rows(stage)
    if any(r["fingerprint"] != fingerprint for r in rows):
        manifest.clear(stage)
        shutil.rmtree(out_dir, ignore_errors=True)
        rows = []
    # a zero-output marker written before completion rows held a schema
    # is a plain done cell here; this run appends a full completion row
    complete = [r for r in rows if r["cell"] == STAGE_DONE and "schema" in r]
    if complete:
        schema = StructType.fromJson(complete[-1]["schema"])
        if not complete[-1]["rows"]:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(str(out_dir))
    done = {r["cell"] for r in rows if r["status"] == "ok"}
    df = prune(build_df(done), done, partition_col)
    t0 = time.perf_counter()
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
       .partitionBy(partition_col).parquet(str(out_dir)))
    wall_ms = int(1000 * (time.perf_counter() - t0))
    try:
        result = spark.read.parquet(str(out_dir))
    except Exception:
        # A ZERO-ROW stage writes no parquet part files at all (a
        # partitionBy write of an empty frame emits nothing), so the
        # read-back cannot infer a schema (ADVICE r2, medium). That is
        # the ONLY failure treated as success: if part files DO exist,
        # the read failed for a real reason (corrupt footer, permission,
        # truncated write) and swallowing it would record a broken stage
        # as an empty completed one, silently skipped on every resume
        # (ADVICE r3, low) — re-raise instead.
        if any(out_dir.rglob("*.parquet")):
            raise
        # The build plan's schema IS the stage schema — return an empty
        # frame with it and still record completion below, so resumes
        # skip the layer instead of crashing on the same read.
        result = spark.createDataFrame([], df.schema)
    # guard against partition-column type inference (quadkeys like
    # "000" must stay strings) under sessions we didn't configure
    result = result.withColumn(
        partition_col, F.col(partition_col).cast("string"))
    counts = {r[partition_col]: r["count"] for r in
              result.groupBy(partition_col).count().collect()}
    new_cells = (
        [c for c in planned_cells if c not in done]
        if planned_cells is not None else
        [c for c in counts if c not in done])
    ts = int(time.time())
    recs = [{"stage": stage, "cell": c,
             "fingerprint": fingerprint, "rows": counts.get(c, 0),
             "wall_ms": wall_ms, "status": "ok", "ts": ts}
            for c in new_cells]
    recs.append({"stage": stage, "cell": STAGE_DONE,
                 "fingerprint": fingerprint, "rows": sum(counts.values()),
                 "schema": result.schema.jsonValue(),
                 "wall_ms": wall_ms, "status": "ok", "ts": ts})
    manifest.append(stage, recs)
    return result

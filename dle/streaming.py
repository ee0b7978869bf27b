"""Structured Streaming helpers behind the three `streaming_*` gates.

The reference is pure batch; these drain a bounded file directory with
`trigger(availableNow=True)`, run the SAME batch operators per
micro-batch via foreachBatch, checkpoint, and stop — an idempotent
incremental analogue of the reference's "already loaded" skips
(designatedlands.py:503). On a live stream the same code runs
continuously.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

EVENTS_SCHEMA = ("event_id bigint, user_id bigint, event_type string, "
                 "value double, ts timestamp")

DOCS_PLAIN_SCHEMA = "doc_id bigint, text string"


def run_available_now(spark: SparkSession, src_dir: str, schema: str,
                      batch_fn, checkpoint_dir: str) -> None:
    """Drain all parquet currently in src_dir through
    batch_fn(df, epoch) and stop. Restart-safe: the stream checkpoint
    remembers consumed files, so re-running processes only new
    arrivals."""
    stream = (spark.readStream.format("parquet").schema(schema)
              .load(src_dir))
    q = (stream.writeStream
         .foreachBatch(batch_fn)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def stream_decontaminate(spark: SparkSession, src_dir: str,
                         checkpoint_dir: str, bench, rows: list,
                         glob: str | None = None,
                         max_files: int | None = None,
                         min_shared: int = 3,
                         where: str | None = None) -> None:
    """STREAMING train/eval decontamination — the stream-static twin
    of operators/curation.py::decontaminate: training docs arrive as a
    file stream, the (small, static) benchmark suite's shingle index
    is broadcast, and each micro-batch emits the contaminated docs it
    contains via foreachBatch running the SAME gated batch operator.

    Correct across any micro-batch split because a document's row is
    atomic within one batch and the per-doc result depends only on
    that doc's text vs the STATIC bench side — no cross-batch state is
    needed at all, which is exactly why the stream-static shape scales:
    at 100 TB/day the streaming job holds zero state beyond source
    offsets (pytest proves two-batch == one-batch == batch equality
    via maxFilesPerTrigger=1).

    ``bench`` is a batch DataFrame (doc_id, text). ``where`` filters
    the streaming corpus side (e.g. to exclude the eval split itself).
    Contaminated-doc rows (doc_id, n_bench, max_shared, sum_shared)
    are appended to ``rows``.
    """
    from .operators.curation import decontaminate

    reader = (spark.readStream.format("parquet")
              .schema(DOCS_PLAIN_SCHEMA))
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    src = reader.load(src_dir)
    if where is not None:
        src = src.where(where)

    seen: set = set()

    def sink(df, epoch_id):
        # foreachBatch re-delivers a micro-batch with the SAME epoch_id
        # on retry; skipping seen epochs keeps the append idempotent
        # within a run
        if epoch_id in seen:
            return
        seen.add(epoch_id)
        rows.extend(
            decontaminate(df, bench, min_shared=min_shared).collect())

    q = (src.writeStream.outputMode("append")
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()

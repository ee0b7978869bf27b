"""SparkSession factory with scale-oriented defaults.

Tuned for the engine's workload shape: wide shuffles keyed by spatial
cell, Arrow-batched pandas UDF geometry kernels, and AQE for skew
(dense coastal cells) with partition coalescing off. On a real cluster
the same builder is used via ``spark-submit --py-files dle.zip``; only
master/memory change.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_ROOT = str(Path(__file__).resolve().parents[1])


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def get_spark(app: str = "dle", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 32)
    # Python workers unpickle UDFs that import `dle`: put the repo root
    # on their path whatever the working directory. The JVM, and the
    # workers it forks, inherit this environment when it launches.
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p]
    if _ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_ROOT, *paths])
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # local-mode driver IS the executor: size the heap for all
        # `cpus` concurrent tasks (takes effect when this process
        # launches the JVM; a no-op on an already-running session)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE skew-join splitting stays on — the built-in answer to the
        # reference's hand-sized tile worklist (designatedlands.py:
        # 810-817). Partition COALESCING is off: it sizes partitions by
        # shuffle BYTES, but our grouped pandas-UDF stages are Python-
        # CPU-bound on small byte counts (WKB in, heavy kernel work),
        # so coalescing serializes them (measured: 4x slowdown on the
        # raster fold at local[32]).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for pandas UDF geometry kernels.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 128 MB scan splits — sane for wide parquet at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # quadkey cells are strings with leading zeros ("000"); type
        # inference would read the partition dir back as int 0
        .config("spark.sql.sources.partitionColumnTypeInference.enabled",
                "false")
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()

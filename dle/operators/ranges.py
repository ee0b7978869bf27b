"""1-D range join (SURVEY §2 E-note / round brief: 'an operator Spark
lacks (e.g., as-of join, range join)').

Spark plans a raw `l.ts BETWEEN r.start AND r.end` predicate as a
broadcast-nested-loop or cartesian — O(|L| x |R|). The engine recipe
is the temporal twin of the spatial cell join: intervals explode into
covering TIME BUCKETS (bounded by interval_length / bucket + 1 rows
per interval), points map to their single bucket, and the join is a
hash equi-join on bucket (+ any equi-keys) with the exact BETWEEN as
a post-filter. A point lives in exactly one bucket, so each matching
pair survives exactly once — no dedupe shuffle (same argument as the
PIP cell join, spatial_join.py:18-19)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def range_join(left: DataFrame, right: DataFrame, left_ts: str,
               r_start: str, r_end: str, bucket: int,
               on: list[str] | None = None,
               broadcast_right: bool = False) -> DataFrame:
    """Inner join of left rows (point `left_ts`) to right rows
    (interval [`r_start`, `r_end`], inclusive) — optionally also
    equi-keyed on `on`. `bucket` is the bucket width in the same units
    as the timestamps; pick it near the typical interval length so
    each interval explodes into ~2 bucket rows."""
    on = on or []
    r = right.withColumn("_b", F.explode(F.sequence(
        F.floor(F.col(r_start) / bucket).cast("bigint"),
        F.floor(F.col(r_end) / bucket).cast("bigint"))))
    if broadcast_right:
        r = F.broadcast(r)
    lft = left.withColumn(
        "_b", F.floor(F.col(left_ts) / bucket).cast("bigint"))
    j = lft.join(r, ["_b"] + on)
    return (j.where((F.col(left_ts) >= F.col(r_start))
                    & (F.col(left_ts) <= F.col(r_end)))
            .drop("_b"))

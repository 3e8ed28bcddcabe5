"""Bucketed tables: co-located joins without a shuffle (SURVEY §7 scale
posture; brief: "repartition/bucketing for co-located joins").

At 100 TB the dominant cost of a fact-fact join is shuffling both sides on
the join key. Bucketing pays that shuffle ONCE at write time: each side is
hash-partitioned into ``num_buckets`` files per partition and (optionally)
sorted within buckets. A join between two tables bucketed by the same key
and bucket count then runs with NO Exchange on either side — each task
reads bucket i of both tables — and with ``sort_cols`` set, no Sort
either. ``tests/test_bucketing.py`` asserts exactly that plan shape.

The same write also accelerates keyed aggregations (groupBy over the
bucket key needs no shuffle) and keyed point lookups (bucket pruning).

Spark specifics: bucketed tables live in the session catalog
(``saveAsTable``), parquet format, hash by ``spark.sql.sources.bucketing``
semantics. Both sides must agree on bucket count (or be multiples with
``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally bucket-sorted) catalog
    table. ``num_buckets`` should be sized so one bucket of the LARGER
    table fits an executor's memory at the target scale — at 100 TB that
    means thousands of buckets, not 16; the local default just keeps
    small-SF files sensible. Replaces ``table``: a stale catalog entry
    (e.g. from a previous session sharing the warehouse dir) blocks
    CREATE, so it is dropped first. Read it back with ``spark.table``
    (bucket metadata rides along — joins and aggs on the bucket key
    skip their Exchange)."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


"""Streaming CDC apply: a change stream merged into a keyed parquet
snapshot, one micro-batch at a time.

This is the lake-format-agnostic MERGE INTO loop: each micro-batch is
applied with :func:`~data_integration_case_study_spark.operators.merge.
merge_upsert` (last-wins by version) and the snapshot is replaced with
the crash-safe staging swap :func:`~data_integration_case_study_spark.
sources.sinks.replace_dir`. On a transactional table format
(Delta/Iceberg/Hudi) the swap becomes the format's own MERGE commit and
this function shrinks to one line — the dataflow (stream → keyed merge →
snapshot) is identical, which is the point of demonstrating it without
the format dependency.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from data_integration_case_study_spark.operators.merge import merge_upsert
from data_integration_case_study_spark.sources.sinks import replace_dir


def run_streaming_merge(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    keys: list[str],
    version_col: str,
    checkpoint_dir: str,
):
    """Drain ``source_dir`` as a stream and merge every micro-batch into
    the parquet snapshot at ``target_dir`` (availableNow trigger: process
    everything pending, then stop — the restartable batch-of-streams
    deployment shape)."""

    # Restart semantics: after a crash, foreachBatch may REPLAY the last
    # un-committed micro-batch. merge_upsert makes the replay a no-op —
    # re-applying the same (key, version) rows cannot change the max-version
    # winner — so the sink is effectively idempotent without a txn log,
    # PROVIDED the snapshot itself survives every crash point, which
    # replace_dir guarantees (it never deletes the only copy).
    def apply_batch(batch_df, batch_id):
        def write(staging):
            if os.path.exists(target_dir):
                target = batch_df.sparkSession.read.parquet(target_dir)
            else:
                target = batch_df.limit(0)
            merge_upsert(target, batch_df, keys, version_col).write.parquet(
                staging
            )

        replace_dir(target_dir, write)

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Streaming incremental view maintenance: a keyed CDC stream keeps BOTH
a row snapshot and a materialized AGGREGATE current, transactionally.

The batch twin (`plans/warehouse_queries.ivm_orders_by_status`) proves
the signed-delta algebra once; this module runs it continuously: per
micro-batch the snapshot absorbs the changes (operators/merge.
merge_apply_changes — the single-window CDC apply) and the aggregate
absorbs ONLY the delta of the touched keys (−old contribution, +new),
so per-batch work is proportional to the change batch, never to the
accumulated table — the whole point of IVM at 100 TB.

Consistency is the hard part a naive two-table sink gets wrong: if the
snapshot commits but the aggregate doesn't (crash between writes), a
replayed batch diffs against the ALREADY-UPDATED snapshot, produces a
zero delta, and the aggregate silently loses the batch forever. The fix
here is versioned-directory commits: each micro-batch writes snapshot +
aggregate into a fresh ``v{batch_id}/`` directory and drops a
``_COMMIT`` marker last; readers resolve the highest COMMITTED version,
so the pair is atomic — either both tables advanced or neither did, and
a replay either skips (marker present) or recomputes against the old
consistent pair. On a transactional lake format the version directory
becomes the format's own multi-table commit.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_case_study_spark.operators.merge import (
    merge_apply_changes,
)

_VDIR = re.compile(r"^v(\d+)$")
# a commit drops version directories this many batch ids or more behind it
_KEEP_VERSIONS = 2


def _latest_committed(state_dir: str) -> int | None:
    if not os.path.isdir(state_dir):
        return None
    versions = [
        int(m.group(1))
        for name in os.listdir(state_dir)
        if (m := _VDIR.match(name))
        and os.path.exists(os.path.join(state_dir, name, "_COMMIT"))
    ]
    return max(versions) if versions else None


def read_ivm_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """(snapshot, aggregate) of the latest committed version, or
    (None, None) before the first commit."""
    v = _latest_committed(state_dir)
    if v is None:
        return None, None
    base = os.path.join(state_dir, f"v{v}")
    return (
        spark.read.parquet(os.path.join(base, "snapshot")),
        spark.read.parquet(os.path.join(base, "agg")),
    )


def run_streaming_ivm(
    spark: SparkSession,
    source_dir: str,
    schema,
    state_dir: str,
    keys: list[str],
    group_col: str,
    value_col: str,
    checkpoint_dir: str,
    version_col: str = "version",
    op_col: str = "op",
):
    """Drain ``source_dir`` as a CDC stream and transactionally maintain
    snapshot + (group -> n_rows, value_sum) aggregate under
    ``state_dir`` (availableNow trigger). ``value_sum`` accumulates in
    DECIMAL(38,8) so +x and −x cancel bit-for-bit — the maintained
    aggregate EQUALS the recompute, not approximately."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        latest = _latest_committed(state_dir)
        if latest is not None and latest >= batch_id:
            return  # checkpoint replay of a fully committed batch
        if latest is None:
            prev_snap = batch_df.limit(0).drop(op_col)
            prev_agg = None
        else:
            base = os.path.join(state_dir, f"v{latest}")
            prev_snap = sess.read.parquet(os.path.join(base, "snapshot"))
            prev_agg = sess.read.parquet(os.path.join(base, "agg"))

        # the snapshot RETAINS the winning version per key (it is the
        # merge target's own column), so a micro-batch delivering an
        # out-of-order EARLIER version cannot overwrite a later state —
        # the same monotonic-offset contract as merge_apply_changes
        new_snap = merge_apply_changes(
            prev_snap, batch_df, keys, version_col, op_col
        )
        # delta restricted to the keys this batch touched: batch-sized,
        # never table-sized
        touched = batch_df.select(*keys).distinct()
        dec = "decimal(38,8)"
        old_part = (
            prev_snap.join(touched, keys)
            .groupBy(group_col)
            .agg(
                (-F.count(F.lit(1))).alias("__dn"),
                (-F.sum(F.col(value_col).cast(dec))).alias("__dv"),
            )
        )
        new_part = (
            new_snap.join(touched, keys)
            .groupBy(group_col)
            .agg(
                F.count(F.lit(1)).alias("__dn"),
                F.sum(F.col(value_col).cast(dec)).alias("__dv"),
            )
        )
        delta = (
            old_part.unionByName(new_part)
            .groupBy(group_col)
            .agg(F.sum("__dn").alias("__dn"), F.sum("__dv").alias("__dv"))
        )
        if prev_agg is None:
            folded = delta.select(
                group_col,
                F.col("__dn").alias("n_rows"),
                F.coalesce(F.col("__dv"), F.lit(0).cast(dec)).alias(
                    "value_sum"
                ),
            )
        else:
            folded = (
                prev_agg.select(
                    group_col,
                    F.col("n_rows").alias("__dn"),
                    F.col("value_sum").alias("__dv"),
                )
                .unionByName(delta)
                .groupBy(group_col)
                .agg(
                    F.sum("__dn").alias("n_rows"),
                    F.coalesce(F.sum("__dv"), F.lit(0).cast(dec)).alias(
                        "value_sum"
                    ),
                )
            )
        folded = folded.filter(F.col("n_rows") > 0)

        vdir = os.path.join(state_dir, f"v{batch_id}")
        if os.path.exists(vdir):  # half-written leftover from a crash
            shutil.rmtree(vdir)
        new_snap.write.parquet(os.path.join(vdir, "snapshot"))
        folded.write.parquet(os.path.join(vdir, "agg"))
        # the marker write IS the commit point for the snapshot+agg pair
        with open(os.path.join(vdir, "_COMMIT"), "w") as f:
            f.write(str(batch_id))
        for name in os.listdir(state_dir):
            m = _VDIR.match(name)
            if m and int(m.group(1)) <= batch_id - _KEEP_VERSIONS:
                shutil.rmtree(os.path.join(state_dir, name))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

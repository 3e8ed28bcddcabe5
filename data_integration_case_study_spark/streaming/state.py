"""Streaming state: every directory a stream keeps current per
micro-batch — the CDC snapshot, the IVM snapshot+aggregate pair, the
foreachBatch parquet sink and the six sketch states — commits through
one foreachBatch loop, :func:`run_state_loop`.

When the loop starts it heals an interrupted swap once
(``sources.sinks.recover_dir``), so a restart that finds no new input
and runs no batch still leaves the committed state readable. Per
micro-batch it skips a replayed batch id, has the caller's ``step(batch_df, prev_dir, staging)`` write the new state into
staging (reading the committed state at ``prev_dir``, or ``None``
before the first commit), writes the batch id into a ``_BATCH`` marker
inside staging, and swaps staging in with ``sources.sinks.replace_dir``.
The reference's whole-table ``if_exists='replace'`` (insert.py:70-84)
in crash-safe form: at every instant a full copy of the old or the new
state exists on disk.

Exactly-once rests on a replayable source plus a replay-guarded sink:
the marker commits in the same rename as the state (Spark's file
listing skips ``_``-prefixed files), and any batch id at or below the
committed one is a checkpoint replay and is skipped — which the additive
merges (count-min, AMS, histogram, the IVM aggregate) need. A state
directory without a marker is a snapshot seeded outside the loop, with
no batch applied yet. The marker ties the state to its checkpoint: a
new checkpoint restarts batch ids at 0, so it needs a fresh state
directory.

One rename commits several tables when they are subdirectories of the
swapped directory: IVM writes ``snapshot/`` and ``agg/`` into the same
staging copy, so either both advance or neither does. On a
transactional table format (Delta/Iceberg/Hudi) the swap becomes the
format's own commit; the dataflow is the same.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.text import hash60
from data_integration_case_study_spark.operators.merge import (
    merge_apply_changes,
    merge_upsert,
)
from data_integration_case_study_spark.operators.sketches import (
    ams_counters,
    ams_merge,
    cms_build,
    cms_merge,
    histogram_bin_counts,
    histogram_merge,
    hll_merge_registers,
    hll_register_rows,
    kmv_merge_sketches,
    kmv_sketch_rows,
)
from data_integration_case_study_spark.sources.sinks import (
    recover_dir,
    replace_dir,
)

_MARKER = "_BATCH"


def run_state_loop(stream: DataFrame, state_dir: str, checkpoint_dir: str,
                   step, output_mode: str = "append"):
    """Start the foreachBatch loop keeping ``state_dir`` equal to what
    ``step(batch_df, prev_dir, staging)`` writes for every micro-batch
    (availableNow trigger; the caller awaits/stops the returned query).
    ``prev_dir`` is ``state_dir`` when it exists, else ``None``; any read
    failure inside ``step`` propagates — silently resetting accumulated
    state would be data loss. A swap interrupted by a crash is healed
    (:func:`recover_dir`) before the stream starts, not per batch: a
    restart with no new input runs no batch at all."""

    def update(batch_df: DataFrame, batch_id: int) -> None:
        prev = state_dir if os.path.exists(state_dir) else None
        marker = os.path.join(state_dir, _MARKER)
        if os.path.exists(marker):
            with open(marker) as f:
                if int(f.read()) >= batch_id:
                    return  # replay after checkpoint recovery: applied

        def write(staging: str) -> None:
            step(batch_df, prev, staging)
            with open(os.path.join(staging, _MARKER), "w") as f:
                f.write(str(batch_id))

        replace_dir(state_dir, write)

    recover_dir(state_dir)
    return (
        stream.writeStream.foreachBatch(update)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_merge(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    keys: list[str],
    version_col: str,
    checkpoint_dir: str,
):
    """Drain ``source_dir`` as a change stream and merge every micro-batch
    into the parquet snapshot at ``target_dir`` with
    :func:`~data_integration_case_study_spark.operators.merge.merge_upsert`
    (last-wins by version) — the lake-format-agnostic MERGE INTO loop.
    ``target_dir`` may hold a snapshot seeded outside the loop."""

    def step(batch_df: DataFrame, prev: str | None, staging: str) -> None:
        target = (
            batch_df.limit(0) if prev is None
            else batch_df.sparkSession.read.parquet(prev)
        )
        merge_upsert(target, batch_df, keys, version_col).write.parquet(staging)

    return run_state_loop(
        spark.readStream.schema(schema).parquet(source_dir),
        target_dir, checkpoint_dir, step,
    )


def read_ivm_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """(snapshot, aggregate) of the last committed batch, or (None, None)
    before the first commit. A pure reader: inside a crashed swap's
    rename window (``state_dir`` missing, ``state_dir.prev`` present) it
    reads the aside copy and leaves the healing to the next run. A
    reader that overlaps a live writer may see the directory mid-swap."""
    state_dir = state_dir.rstrip("/")
    for base in (state_dir, state_dir + ".prev"):
        if os.path.isdir(base):
            return (
                spark.read.parquet(os.path.join(base, "snapshot")),
                spark.read.parquet(os.path.join(base, "agg")),
            )
    return None, None


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
    """Drain ``source_dir`` as a CDC stream and maintain snapshot +
    (group -> n_rows, value_sum) aggregate under ``state_dir``
    (availableNow trigger). The batch twin
    (``plans/warehouse_queries.ivm_orders_by_status``) proves the
    signed-delta algebra; here per micro-batch the snapshot absorbs the
    changes (``merge_apply_changes``) and the aggregate absorbs only the
    delta of the touched keys (−old contribution, +new), so per-batch
    work is proportional to the change batch, never to the accumulated
    table. Both tables commit in one rename: a two-table sink that
    crashes between its writes replays the batch against the
    already-updated snapshot, computes a zero delta and loses the
    aggregate's share of that batch forever. ``value_sum`` accumulates
    in DECIMAL(38,8) so +x and −x cancel bit-for-bit — the maintained
    aggregate EQUALS the recompute, not approximately."""
    dec = "decimal(38,8)"

    def step(batch_df: DataFrame, prev: str | None, staging: str) -> None:
        sess = batch_df.sparkSession
        if prev is None:
            prev_snap = batch_df.limit(0).drop(op_col)
            prev_agg = None
        else:
            prev_snap = sess.read.parquet(os.path.join(prev, "snapshot"))
            prev_agg = sess.read.parquet(os.path.join(prev, "agg"))

        # the snapshot RETAINS the winning version per key (it is the
        # merge target's own column), so a micro-batch delivering an
        # out-of-order EARLIER version cannot overwrite a later state —
        # the same monotonic-offset contract as merge_apply_changes
        new_snap = merge_apply_changes(
            prev_snap, batch_df, keys, version_col, op_col
        )
        # signed rows of the keys this batch touched (−old, +new):
        # batch-sized, never table-sized, folded into the aggregate
        touched = batch_df.select(*keys).distinct()
        value = F.col(value_col).cast(dec)
        parts = [
            prev_snap.join(touched, keys).select(
                group_col, F.lit(-1).alias("n_rows"), (-value).alias("value_sum")
            ),
            new_snap.join(touched, keys).select(
                group_col, F.lit(1).alias("n_rows"), value.alias("value_sum")
            ),
        ] + ([] if prev_agg is None else [prev_agg])
        folded = reduce(DataFrame.unionByName, parts).groupBy(group_col).agg(
            F.sum("n_rows").alias("n_rows"),
            F.coalesce(F.sum("value_sum"), F.lit(0).cast(dec)).alias("value_sum"),
        )
        new_snap.write.parquet(os.path.join(staging, "snapshot"))
        folded.filter(F.col("n_rows") > 0).write.parquet(
            os.path.join(staging, "agg")
        )

    return run_state_loop(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir),
        state_dir, checkpoint_dir, step,
    )


def _sketch_step(sketch, merge):
    """The loop step for a mergeable sketch: sketch the micro-batch,
    merge it with the committed state if there is one, and write the
    merged frame straight into staging (no driver round trip). State on
    disk is bounded by the sketch size forever, and the merged sketch
    equals the sketch of all data seen (the merge property, proven in
    tests/test_warehouse.py and re-proven stream-vs-batch in
    tests/test_streaming.py)."""

    def step(batch_df: DataFrame, prev: str | None, staging: str) -> None:
        merged = sketch(batch_df)
        if prev is not None:
            merged = merge(batch_df.sparkSession.read.parquet(prev), merged)
        merged.write.parquet(staging)

    return step


def streaming_kmv_sketch(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
    k: int = 64,
):
    """Maintain a KMV sketch table at ``state_path`` from a streaming
    frame: sketch each microbatch and merge it into the persisted state
    (union -> re-rank -> cut). Returns the started query (caller
    awaits/stops). State: <= k rows per group forever."""
    return run_state_loop(stream, state_path, checkpoint_dir, _sketch_step(
        lambda df: kmv_sketch_rows(df, group_cols, value_col, k),
        lambda prev, new: kmv_merge_sketches(prev, new, group_cols, k),
    ))


def streaming_cms_sketch(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
):
    """Maintain a count-min frequency grid at ``state_path`` from a
    streaming frame: sketch each microbatch and ADD it counter-wise into
    the persisted grid. State is <= depth*width counter rows forever.
    Counter addition is not idempotent; the loop's batch-id marker keeps
    a replayed microbatch from counting twice."""
    return run_state_loop(stream, state_path, checkpoint_dir, _sketch_step(
        lambda df: cms_build(df, key_col, depth, width), cms_merge,
    ))


def streaming_hll_sketch(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
):
    """Maintain a HyperLogLog register table at ``state_path`` from a
    streaming frame — the third streaming sketch next to KMV and CMS:
    the merge is an element-wise MAX. State: <= 2^p rows per group
    forever, at ``hll_register_rows``' precision p = 8."""
    return run_state_loop(stream, state_path, checkpoint_dir, _sketch_step(
        lambda df: hll_register_rows(df, group_cols, value_col),
        lambda prev, new: hll_merge_registers(prev, new, group_cols),
    ))


def streaming_ams_sketch(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
):
    """Maintain per-group AMS F2 counters at ``state_path`` from a
    streaming frame — the fourth streaming sketch: like count-min the
    merge is ADDITIVE (sign sums add across batches). State: one wide
    row per group (``ams_counters``' d = 9 counters + n_rows) forever."""
    return run_state_loop(stream, state_path, checkpoint_dir, _sketch_step(
        lambda df: ams_counters(df, group_cols, value_col),
        lambda prev, new: ams_merge(prev, new, group_cols),
    ))


def streaming_weighted_reservoir(
    stream: DataFrame,
    id_col: str,
    weight_col: str,
    state_path: str,
    checkpoint_dir: str,
    k: int = 100,
):
    """Maintain an EXACT-SIZE-k weighted sample (Efraimidis-Spirakis)
    over a stream — bounded-state sampling to go with the bounded-state
    sketches above: each row's key is ln(u)/w with u the ROW-CONTENT
    hash draw (weighted_reservoir_sample's snapped-key formula, no RNG
    state), and the reservoir is simply the k largest keys seen so far.
    Top-k-by-pure-key MERGES (union -> re-cut), so the maintenance loop
    is the same as the sketches': key the microbatch, union with the
    persisted reservoir, keep the k largest. State on disk: <= k rows
    forever. The streamed reservoir equals the batch sample of all data
    seen — asserted stream-vs-batch in tests."""

    def keyed(df: DataFrame) -> DataFrame:
        h = hash60(F.col(id_col).cast("string"))
        u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
        key = F.floor(
            (F.log(u) / F.col(weight_col)) * F.lit(float(1 << 40)) + F.lit(0.5)
        ).cast("long")
        return df.select(
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("double").alias("weight"),
            key.alias("key_scaled"),
        )

    def cut(df: DataFrame) -> DataFrame:
        return df.orderBy(F.desc("key_scaled"), F.asc("id")).limit(k)

    return run_state_loop(stream, state_path, checkpoint_dir, _sketch_step(
        lambda df: cut(keyed(df)),
        lambda prev, new: cut(prev.unionByName(new).distinct()),
    ))


def streaming_histogram_sketch(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    bins: int = 256,
):
    """Maintain per-group fixed-width histogram bin counters at
    ``state_path`` from a streaming frame — the quantile-serving
    streaming sketch: the persisted counters answer p50/p95/p99 at any
    moment via ``operators/sketches.histogram_estimate`` without ever
    sorting or retaining raw values. Like count-min and AMS the merge
    is ADDITIVE (bin counters sum across batches). State: <= bins rows
    per group forever."""
    return run_state_loop(stream, state_path, checkpoint_dir, _sketch_step(
        lambda df: histogram_bin_counts(df, group_cols, value_col, lo, hi, bins),
        lambda prev, new: histogram_merge(prev, new, group_cols),
    ))

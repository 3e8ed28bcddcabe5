"""Streaming sketch maintenance: bounded profiling state over a stream.

A continuously-ingesting pipeline wants "distinct users per event type,
so far" without keeping every user id in streaming state. Every sketch
here MERGES (KMV: union -> re-rank -> cut; count-min, AMS and histogram
counters add; HLL registers take the MAX; the weighted reservoir is a
top-k re-cut), so all six share one maintenance loop, :func:`_maintain`:
per microbatch, sketch the batch, merge it with the persisted state, and
write the merged frame straight into a staging copy that
``sources.sinks.replace_dir`` swaps in by rename. State on disk is
bounded by the sketch size forever; the merged sketch equals the sketch
of all data seen (the merge property, proven in tests/test_warehouse.py
and re-proven stream-vs-batch in tests/test_streaming.py).

Exactly-once: the additive merges (count-min, AMS, histogram) are not
idempotent — replaying a batch after checkpoint recovery would
double-count — so the loop writes the batch id into a ``_BATCH`` marker
inside the staging copy. The id commits in the same rename as the state
(Spark's file listing skips ``_``-prefixed files), and any batch id at
or below the committed one is skipped. The marker ties the state to its
checkpoint: a new checkpoint restarts batch ids at 0, so it needs a
fresh ``state_path``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from data_integration_case_study_spark.operators.sketches import (
    kmv_merge_sketches,
    kmv_sketch_rows,
)
from data_integration_case_study_spark.sources.sinks import (
    recover_dir,
    replace_dir,
)

_MARKER = "_BATCH"


def _maintain(stream: DataFrame, state_path: str, checkpoint_dir: str,
              sketch, merge):
    """Start the foreachBatch loop keeping ``state_path`` equal to
    ``merge(state, sketch(batch))`` over every microbatch (availableNow
    trigger; the caller awaits/stops the returned query). "No state yet"
    means ``state_path`` is absent after :func:`recover_dir`; any other
    read failure propagates — silently resetting accumulated state would
    be data loss."""
    spark = stream.sparkSession

    def update(batch_df: DataFrame, batch_id: int) -> None:
        recover_dir(state_path)
        merged = sketch(batch_df)
        if os.path.exists(state_path):
            with open(os.path.join(state_path, _MARKER)) as f:
                if int(f.read()) >= batch_id:
                    return  # replay after checkpoint recovery: applied
            merged = merge(spark.read.parquet(state_path), merged)

        def write(staging: str) -> None:
            merged.write.parquet(staging)
            with open(os.path.join(staging, _MARKER), "w") as f:
                f.write(str(batch_id))

        replace_dir(state_path, write)

    return (
        stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


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
    return _maintain(
        stream, state_path, checkpoint_dir,
        lambda df: kmv_sketch_rows(df, group_cols, value_col, k),
        lambda prev, new: kmv_merge_sketches(prev, new, group_cols, k),
    )


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
    from data_integration_case_study_spark.operators.sketches import (
        cms_build,
        cms_merge,
    )

    return _maintain(
        stream, state_path, checkpoint_dir,
        lambda df: cms_build(df, key_col, depth, width),
        cms_merge,
    )


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
    from data_integration_case_study_spark.operators.sketches import (
        hll_merge_registers,
        hll_register_rows,
    )

    return _maintain(
        stream, state_path, checkpoint_dir,
        lambda df: hll_register_rows(df, group_cols, value_col),
        lambda prev, new: hll_merge_registers(prev, new, group_cols),
    )


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
    from data_integration_case_study_spark.operators.sketches import (
        ams_counters,
        ams_merge,
    )

    return _maintain(
        stream, state_path, checkpoint_dir,
        lambda df: ams_counters(df, group_cols, value_col),
        lambda prev, new: ams_merge(prev, new, group_cols),
    )


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
    from pyspark.sql import functions as F

    from data_integration_case_study_spark.functions.text import hash60

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

    return _maintain(
        stream, state_path, checkpoint_dir,
        lambda df: cut(keyed(df)),
        lambda prev, new: cut(prev.unionByName(new).distinct()),
    )


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
    from data_integration_case_study_spark.operators.sketches import (
        histogram_bin_counts,
        histogram_merge,
    )

    return _maintain(
        stream, state_path, checkpoint_dir,
        lambda df: histogram_bin_counts(df, group_cols, value_col, lo, hi, bins),
        lambda prev, new: histogram_merge(prev, new, group_cols),
    )

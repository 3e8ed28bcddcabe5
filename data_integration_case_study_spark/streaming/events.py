"""Event-stream operators (SURVEY.md §2.8-2.9, Phase E).

Batch-first design: every operator is an expression over a plain DataFrame
so the DuckDB oracle can check it; :func:`run_streaming` executes the same
expressions under Structured Streaming (readStream → writeStream), which is
possible precisely because they only use stream-safe constructs
(``F.window`` / ``session_window`` / watermarkable event-time aggs).

Scale notes: windowed aggregation shuffles on (window, key) — bounded
cardinality; session windows shuffle on user_id (high cardinality, no hot
keys); JSON extraction is a map-only codegen stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.numeric import dsum
from data_integration_case_study_spark.streaming.state import run_state_loop

# Event-time watermark both runners and both sides of the interval join
# put on event time: how late an event may arrive before windowed,
# session and join state for it is dropped.
_GAP_WATERMARK = "1 day"


def extract_props(events: DataFrame) -> DataFrame:
    """JSON extraction from the props column (get_json_object — no full
    parse, pushdown-friendly). Adds typed ``k`` and a missing-key probe."""
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.get_json_object("props", "$.missing").alias("missing_key"),
    )


def tumbling_window_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows: count + exact sum per (window, type)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_window_agg(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows (width=2×slide → each event lands in exactly two
    windows)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_window_agg(events: DataFrame, gap: str = "4 hours") -> DataFrame:
    """Per-user session windows with an inactivity gap (native
    ``session_window`` — the same expression runs under Structured
    Streaming with state cleanup via watermark).

    Emitted session_end is the *exclusive* bound (last event + gap), the
    Spark convention; the oracle reproduces it via lag/cumsum
    sessionization, proving the batch semantics match the classic SQL
    formulation.
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(stream: DataFrame, keys: list[str], watermark_col: str = "ts",
                    watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on a key set with state truly bounded by the
    watermark.

    ``dropDuplicates`` only evicts per-key state when the event-time
    column is part of the keys — with keys like ``["event_id"]`` its state
    grows without bound in continuous operation.
    ``dropDuplicatesWithinWatermark`` evicts each key once the watermark
    passes its event time, which caps state at (watermark horizon × key
    arrival rate) — the contract 100 TB/day event volumes need. The
    trade: duplicates arriving more than ``watermark`` apart in event
    time are re-emitted. Batch twin: plain ``dropDuplicates(keys)``
    (global dedup; the within-watermark relaxation only exists where
    state is unbounded)."""
    wm = stream.withWatermark(watermark_col, watermark)
    if stream.isStreaming:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_gap: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join (SURVEY §2.8), the attribution shape:
    inner-join two event streams on ``key`` where the right event lands
    within [left_ts, left_ts + max_gap].

    State bound: each side buffers at most ``_GAP_WATERMARK`` +
    ``max_gap`` of event time per key — the two-sided condition gives the
    engine both directions of the eviction proof; without the time bound
    stream-stream join state grows forever. Scale: state is partitioned
    by the join key, so the operator distributes like any keyed shuffle.
    Batch twin: the same call on two batch frames (withWatermark is a
    no-op in batch)."""
    l = left.withWatermark(left_ts, _GAP_WATERMARK)
    r = right.withWatermark(right_ts, _GAP_WATERMARK)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond)


def run_streaming_foreach_batch(
    spark: SparkSession,
    source_dir: str,
    schema,
    transform,
    sink_dir: str,
    checkpoint_dir: str,
):
    """Production-shaped runner: transform each micro-batch and replace
    the parquet sink through the state loop's foreachBatch (the standard
    pattern for sinks Structured Streaming doesn't support in complete
    mode) and its crash-safe staging swap. availableNow drains the
    source then stops. The sink's ``_BATCH`` marker ties it to
    ``checkpoint_dir``: a new checkpoint needs a fresh ``sink_dir``."""
    stream = (
        spark.readStream.schema(schema).parquet(source_dir).withWatermark("ts", _GAP_WATERMARK)
    )
    return run_state_loop(
        transform(stream), sink_dir, checkpoint_dir,
        lambda batch_df, prev, staging: batch_df.write.parquet(staging),
        output_mode="complete",
    )


def run_streaming(
    spark: SparkSession,
    source_dir: str,
    schema,
    transform,
    query_name: str = "events_stream",
):
    """Execute a batch-defined transform as a Structured Streaming query.

    Reads the parquet directory as a stream, applies ``transform`` (the
    same function used in batch), watermarks event time for state bounds,
    and materializes to an in-memory sink with trigger=availableNow (drain
    everything, then stop). Returns the StreamingQuery; callers await
    termination and read ``spark.table(query_name)``.

    At scale the memory sink becomes a parquet/Kafka sink; the transform
    and watermark are unchanged — that is the point of batch-first design.
    """
    stream = (
        spark.readStream.schema(schema).parquet(source_dir).withWatermark("ts", _GAP_WATERMARK)
    )
    out = transform(stream)
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )

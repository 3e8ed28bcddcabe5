"""Custom stateful streaming operator (SURVEY.md §2.8: the
``applyInPandasWithState`` path for semantics the built-in windowed aggs
can't express).

Example operator: per-user running totals with a change-count — the state
(count, sum) lives in the state store keyed by user, survives across
micro-batches, and is emitted once per batch per active user. The batch
twin (a plain groupBy) verifies the drained result; in continuous operation
the operator emits incremental snapshots a groupBy cannot.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def _update_user_totals(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Arrow-batched stateful transform: one state row per user, updated
    per micro-batch. State is partitioned by the group key — at scale each
    executor owns a shard of users, no global coordination.

    State is kept forever (no timeout), which is correct only while the
    key space itself is bounded; an unbounded key space (anonymous or
    one-shot users) would need an eviction policy this operator does not
    have."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- Space-Saving heavy hitters (bounded-state streaming top-k) --------------

TOPK_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("upd_seq", LongType()),
        StructField("item", LongType()),
        StructField("est_count", LongType()),
        StructField("err", LongType()),
    ]
)

TOPK_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("items", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
    ]
)


def _make_update_space_saving(m: int):
    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            seq, items, counts, errs = state.get
            table = {
                it: [c, e] for it, c, e in zip(items, counts, errs)
            }
        else:
            seq, table = 0, {}
        # canonical within-batch order (by descending batch weight, then
        # item) so a replay of the same batches produces identical state
        batch_w: dict[int, int] = {}
        for pdf in pdfs:
            for it, w in pdf["item"].value_counts().items():
                batch_w[int(it)] = batch_w.get(int(it), 0) + int(w)
        for it, w in sorted(batch_w.items(), key=lambda kv: (-kv[1], kv[0])):
            if it in table:
                table[it][0] += w
            elif len(table) < m:
                table[it] = [w, 0]
            else:
                # evict the (count, item)-min counter; the newcomer
                # inherits its count as overestimation error
                evict, (c_min, _) = min(
                    table.items(), key=lambda kv: (kv[1][0], kv[0])
                )
                del table[evict]
                table[it] = [c_min + w, c_min]
        seq += 1
        items = sorted(table)
        state.update(
            (
                seq,
                items,
                [table[i][0] for i in items],
                [table[i][1] for i in items],
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [event_type] * len(items),
                "upd_seq": [seq] * len(items),
                "item": items,
                "est_count": [table[i][0] for i in items],
                "err": [table[i][1] for i in items],
            }
        )

    return update


def space_saving_topk(stream: DataFrame, m: int = 8) -> DataFrame:
    """Space-Saving heavy hitters per group (Metwally et al. 2005): at
    most ``m`` (item, count, err) counters per key live in the state
    store, whatever the item cardinality — the bounded-state streaming
    top-k that a per-item count aggregation (state ∝ distinct items)
    cannot give. Guarantees carried by construction and pinned in
    tests: est_count >= true count >= est_count - err for every tracked
    item, the counter sum equals the total weight seen, and any item
    with true count > N/m is tracked.

    State is partitioned by the group key (executors own key shards);
    within a batch items apply in a canonical (-weight, item) order so
    replays are deterministic. Emits the full counter table per key per
    batch (``upd_seq`` tags the latest snapshot) in update mode."""
    return (
        stream.groupBy("event_type").applyInPandasWithState(
            _make_update_space_saving(m),
            outputStructType=TOPK_OUTPUT_SCHEMA,
            stateStructType=TOPK_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

"""Stream-stream joins (SURVEY §2.8 depth): the attribution shape.

A click stream joined to a purchase stream within a time bound is the
canonical stream-stream interval join. Both sides carry watermarks and
the join condition bounds the event-time gap, so the engine can reason
about how long to buffer each side's state and evict it — without the
time bound, stream-stream join state grows forever.

Batch-first like everything else here: the same function applied to two
batch DataFrames produces the identical answer (withWatermark is a no-op
in batch), which is how the test proves stream == batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Event-time watermark on both join sides: with ``max_gap`` it bounds how
# long each side's join state is buffered before eviction.
_WATERMARK = "1 day"


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_gap: str = "1 hour",
) -> DataFrame:
    """Inner-join two event streams on ``key`` where the right event lands
    within [left_ts, left_ts + max_gap].

    State bound: each side buffers at most ``_WATERMARK`` + ``max_gap`` of
    event time per key — the condition gives the engine both directions of
    the eviction proof. Scale: state is partitioned by the join key, so
    the operator distributes like any keyed shuffle."""
    l = left.withWatermark(left_ts, _WATERMARK)
    r = right.withWatermark(right_ts, _WATERMARK)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond)

"""Unit tests for the status-store metric parser.

The strings are SQL metric values as pyspark 4.1.2 returns them from
``statusStore().executionMetrics(id)``. Run with:

    python3 -m pytest perfbench/test_statusstore.py -q
"""

from __future__ import annotations

import pytest

from statusstore import parse_metric

KiB, MiB = 2**10, 2**20

RECORDED = [
    # plain sums
    ("5,978", 5978.0),                      # number of output rows
    ("36", 36.0),                           # local blocks read
    # driver-side single values
    ("488.7 KiB", 488.7 * KiB),             # data returned from Python workers
    ("0.0 B", 0.0),                         # spill size
    ("64.2 MiB", 64.2 * MiB),               # peak memory
    ("287 ms", 0.287),                      # scan time
    ("2.2 s", 2.2),                         # time to run Python workers
    # per-task metrics: the total is the first value of the second line
    ("total (min, med, max (stageId: taskId))\n"
     "1668.1 KiB (49.9 KiB, 184.0 KiB, 323.7 KiB (stage 6.0: task 4))",
     1668.1 * KiB),                         # shuffle bytes written
    ("total (min, med, max (stageId: taskId))\n"
     "576.6 MiB (64.1 MiB, 64.1 MiB, 64.1 MiB (stage 6.0: task 4))",
     576.6 * MiB),                          # peak memory
    ("total (min, med, max (stageId: taskId))\n"
     "5.0 s (640 ms, 1.4 s, 1.6 s (stage 29.0: task 28))",
     5.0),                                  # time in aggregation build
    ("total (min, med, max (stageId: taskId))\n"
     "0 ms (0 ms, 0 ms, 0 ms (stage 6.0: task 4))", 0.0),  # fetch wait time
]


@pytest.mark.parametrize("text,want", RECORDED)
def test_recorded_metric_strings(text, want):
    assert parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", [
    "", "n/a", "12 parsecs", "1 s\n2 s",
    # an average metric (avg hash probes per key) has no total to read
    "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 29.0: task 27))",
])
def test_unparseable_strings_raise(text):
    with pytest.raises(ValueError):
        parse_metric(text)

"""The engine's one materialization policy: tracked persists and lineage
truncation.

The reference holds nothing between steps; the Spark port must pin some
intermediates and cut the lineage of iterative loops. Every engine
``persist``/``checkpoint``/``localCheckpoint`` goes through this module
(a test guards it), and no operator takes a switch over either.

Tracked persists. Several operators persist a compact intermediate that
their result reads more than once (the MinHash per-doc summary, the kNN
signature base, the TF table, the gap-fill event scan). The returned
frames are lazy, so the operator cannot unpersist behind its own result
— the cache must outlive the call. Harness callers (bench.py,
scripts/check_oracle.py) bound that with ``spark.catalog.clearCache()``
between queries; LIBRARY callers that embed many engine calls in one
long-lived session use this registry instead, which releases only
engine-owned caches and leaves the caller's own persisted frames alone:

    from data_integration_case_study_spark.operators import cache
    ...run engine queries...
    cache.release_tracked()     # after the results are materialized

Every engine persist() goes through :func:`track`, so the registry is
complete by construction. Frames are tracked per-call (not deduped): a
double release is a no-op (``unpersist`` on an unpersisted frame is).

Lineage truncation. Iterative loops (connected components, PageRank,
HITS, k-core, Lloyd's k-means, power iteration) grow a linear lineage;
each round goes through :func:`truncate`. Durability is a SESSION
setting, not an operator argument: with no checkpoint directory
(the default) rounds are executor-local ``localCheckpoint`` blocks —
fast, but an executor loss mid-iteration kills the job because the
truncated lineage cannot be recomputed. A deployment that needs rounds
to survive executor loss sets a cluster-visible directory once, at
session setup (``spark.checkpoint.dir`` or
``sparkContext.setCheckpointDir``), and every loop then writes reliable
checkpoints there. Operators never set it themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_tracked`."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every engine-owned cached frame; returns how many."""
    n = len(_TRACKED)
    for df in _TRACKED:
        df.unpersist(blocking)
    _TRACKED.clear()
    return n


def truncate(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: one round of an iterative loop.

    The session's checkpoint directory is read on every call (nothing is
    cached), so a directory set between calls takes effect at once.

    Without a directory the truncation is LAZY
    (``localCheckpoint(eager=False)``): the returned frame's logical
    plan is the truncated ``LogicalRDD`` either way, but eager
    truncation schedules one full job per round — a driver round-trip
    that dominated the wall of every fixed-round loop with no per-round
    action (profiled r11: markov_attribution 32.1 s of build vs 0.17 s
    of exec; pagerank/hits/kcore similar). Lazy is not job-free, though:
    building the RDD calls ``execute()`` on the round's physical plan,
    and under AQE that runs every shuffle stage of the round (and
    collects its broadcasts) while the loop is being BUILT. Measured:
    ``graph.pagerank(rounds=3)`` on a 20k-edge graph starts 26 jobs at
    build with AQE on and 9 with it off. Only the final,
    shuffle-free stage of each round waits for the first action, where
    the marked RDD is persisted-on-first-compute. Results are unchanged
    either way: every loop's per-round math is decimal-snapped/exact by
    design, so materialization timing cannot alter values.

    With a directory the checkpoint is reliable and EAGER: its point is
    durability of each round, which requires actually writing it out as
    it happens."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)

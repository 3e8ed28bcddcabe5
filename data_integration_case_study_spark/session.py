"""SparkSession factory with a 100-TB-minded default configuration.

Local testing runs ``local[N]`` single-JVM; the configs below are chosen so
the *same* plans scale to a multi-executor cluster: AQE owns runtime
re-planning (partition coalescing, skew-join splitting, dynamic broadcast),
Arrow accelerates the few pandas_udf paths, and shuffle partitions default
to the local core count (on a real cluster this would be set to ~2-3x the
executor-core total, or left to AQE's coalescing).
"""

from __future__ import annotations

import multiprocessing
import os

from pyspark.sql import SparkSession


def local_cores() -> int:
    """The core count of the ``local[N]`` master: ``$SPARK_GRAFT_CPUS``;
    unset, the CPUs this process may run on (what ``nproc`` prints); a
    malformed value falls back to the host's CPU count. bench.py's
    environment fingerprint reads the same number."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    try:
        return int(raw)
    except ValueError:
        return multiprocessing.cpu_count()


DEFAULT_SHUFFLE_PARTITIONS = local_cores()


def get_spark(
    app_name: str = "data-integration-case-study-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Settings rationale (scale posture):

    - ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin: at
      100 TB the optimizer's static estimates are wrong often enough that
      AQE's runtime re-plan (dynamic broadcast, skew split, coalesce) is
      mandatory, and it is free at small scale.
    - ``spark.sql.execution.arrow.pyspark.enabled``: the engine's policy is
      native expressions first; where Python is unavoidable we use Arrow
      batched pandas_udf, never row-at-a-time UDFs.
    - ``spark.sql.shuffle.partitions``: local default = core count; a real
      deployment sizes this so post-shuffle partitions are ~128-256 MB.
    - ``spark.sql.parquet.*`` pushdown flags are on by default in Spark 4
      but pinned here so the scan contract (PushedFilters in .explain) is
      explicit and survives config drift.
    - ``spark.buffer.pageSize`` = 4m: every sort, hash-aggregate and
      shuffle-sorter consumer in a task takes a whole Tungsten page before
      it holds a byte. Left unset, Spark sizes the page as
      nextPowerOf2(execution memory / cores / 16) capped at 64 MB, and
      the 8g driver hits the cap, so a 9-task sort of a few thousand rows
      zero-fills ~577 MB. A record larger than a page still gets its own
      page (``allocatePage`` takes max(pageSize, required)); the one new
      ceiling is the per-task page table, 8192 pages x 4 MiB = 32 GiB per
      task, far above any task's execution-memory share.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{local_cores()}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime SMJ -> shuffled-hash conversion (guide §3.1): when every
        # post-shuffle partition of the build side measures under this
        # threshold AT RUNTIME, AQE replaces the sort-merge join with a
        # shuffled-hash join and skips both sorts. Unlike the static
        # preferSortMergeJoin=false, the decision uses actual partition
        # bytes, so the per-task hash map is bounded (~64 MB, the
        # advisory partition size) at ANY corpus size — the explode-blind
        # size-estimate failure class (round 10's broadcast bug) cannot
        # reach it. Sort-pinned joins (the ER candidate join's merge
        # hint) are unaffected. Env-tunable for deployments that size
        # partitions differently. Measured ~8%% on the join-heavy catalog
        # subset at sf0.1 under load-controlled A/B.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.buffer.pageSize", "4m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""Bucketed co-located joins + AQE skew handling: the two shuffle
strategies the brief calls out, proven at the plan level."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_case_study_spark.sources import bucketing
from data_integration_case_study_spark.sources.readers import read_parquet_table


@pytest.fixture
def no_broadcast(spark):
    # force shuffle-join planning so the Exchange-elision is what's tested
    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_bucketed_join_has_no_exchange(spark, sf_dir, no_broadcast):
    # a prior session's warehouse leftovers aren't in this session's
    # in-memory catalog — clear the locations so saveAsTable can create
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    l = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    bucketing.write_bucketed(l, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
    bucketing.write_bucketed(o, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])

    bl = spark.table("b_lineitem")
    bo = spark.table("b_orders")
    joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the whole point: co-located buckets -> join with ZERO shuffles
    assert "Exchange" not in plan, plan
    # correctness: identical to the unbucketed join
    assert joined.count() == l.join(o, l.l_orderkey == o.o_orderkey).count()

    # keyed aggregation over the bucket key also skips its Exchange
    agg = bl.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in agg_plan, agg_plan


def test_aqe_splits_skewed_join(spark, sf_dir, no_broadcast):
    # one hot key holding ~half the probe side: AQE's skew-join splits the
    # oversized partition instead of letting one task run the whole key
    old = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    try:
        skewed = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(0, 200_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = skewed.join(dim, "k")
        # execute THIS query's own physical plan (AQE finalizes only on
        # execution of that exact AdaptiveSparkPlanExec), then read the
        # final plan: AQEShuffleRead marks the split partitions as skewed
        n = joined._jdf.queryExecution().executedPlan().execute().count()
        assert n == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew" in plan.lower(), plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_incremental_dedup_probes_bucketed_signature_table(spark, sf_dir, no_broadcast):
    """The SCALE.md incremental-dedup claim, proven at the plan level: the
    corpus MinHash summary is a MAINTAINED bucketed table keyed on
    (band, bucket); a crawl-refresh probe joins it with an Exchange on
    the (small) probe side ONLY — the corpus side is read co-located, so
    per-refresh shuffle volume is the batch, never the corpus."""
    import shutil

    from data_integration_case_study_spark.operators.dedup import (
        _band_buckets,
        _minhash_per_doc,
    )
    from data_integration_case_study_spark.plans.corpus_queries import _incoming

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS corpus_bands")
    shutil.rmtree(f"{warehouse}/corpus_bands", ignore_errors=True)

    d = read_parquet_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_bands = _band_buckets(_minhash_per_doc(d, "doc_id", "text", 3, 32), 32, 8)
    # the maintenance write: pay the (band, bucket) shuffle once
    bucketing.write_bucketed(
        corpus_bands, "corpus_bands", ["band", "bucket"], 8, ["band", "bucket"]
    )

    probe = _band_buckets(
        _minhash_per_doc(_incoming(spark, sf_dir), "doc_id", "text", 3, 32), 32, 8
    ).withColumnRenamed("id", "new_id")
    stored = spark.table("corpus_bands").withColumnRenamed(
        "id", "dup_of"
    )
    cand = probe.join(stored, ["band", "bucket"]).select("new_id", "dup_of").distinct()

    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    # the corpus (stored) side comes straight from the bucketed scan
    assert "Bucketed: true" in plan, plan
    # correctness: identical to joining the freshly-computed (unbucketed)
    # corpus band table
    fresh = probe.join(
        _band_buckets(_minhash_per_doc(d, "doc_id", "text", 3, 32), 32, 8)
        .withColumnRenamed("id", "dup_of"),
        ["band", "bucket"],
    ).select("new_id", "dup_of").distinct()
    assert sorted(map(tuple, cand.collect())) == sorted(map(tuple, fresh.collect()))
    # and the join itself reads the stored side shuffle-free: the only
    # Exchange hashpartitioning(band, bucket) in the plan belongs to the
    # probe side
    import re

    n_join_key_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(band", plan)
    )
    assert n_join_key_exchanges == 1, plan


def test_dynamic_partition_pruning_skips_partitions(spark, sf_dir):
    # fact stored PARTITIONED BY year; dimension filter selects one year.
    # DPP should push a runtime subquery into the fact scan's partition
    # filters so only that year's directory is read — the mechanism that
    # turns a 100 TB full scan into one partition's worth of IO when the
    # selective predicate lives on the dimension side.
    import tempfile

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").alias("order_year"),
    )
    fact_dir = tempfile.mkdtemp(prefix="fact_part_")
    o.write.mode("overwrite").partitionBy("order_year").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    years = (
        fact.select("order_year").distinct().orderBy("order_year").collect()
    )
    assert len(years) > 3
    # the selective predicate sits on a NON-key dimension column (era),
    # so static filter inference can't reach the fact — only runtime DPP
    # can prune the fact's partitions from the dim's build side
    era_pick = years[1]["order_year"] % 5
    dim = spark.range(1990, 2010).select(
        F.col("id").cast("int").alias("order_year"),
        (F.col("id") % 5).alias("era"),
    )
    joined = fact.join(dim.filter(F.col("era") == era_pick), "order_year")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the answer equals a static filter of the fact
    want = fact.filter(F.col("order_year") % 5 == era_pick).count()
    assert joined.count() == want > 0

"""Warehouse-side operators the reference's pipeline grows into at scale:
SCD Type-2 history, declarative data-quality gates, sketch-based
profiling, and event attribution.

Provenance: the reference keeps dimension state by full replace
(insert.py ``if_exists='replace'``) and profiles eagerly in pandas
(data_analysis.py nunique / isna / duplicated). These queries are the
100 TB forms: history-preserving merges, one-pass rule suites, and
bounded-state sketches, each with a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.numeric import dsum_sql
from data_integration_case_study_spark.functions.text import hash60_sql
from data_integration_case_study_spark.operators.dedup import (
    _MERSENNE,
    _affine_params,
)
from data_integration_case_study_spark.operators.sketches import AMS_SEED, CMS_SEED
from data_integration_case_study_spark.sources.readers import read_parquet_table


# --- SCD Type 2 ------------------------------------------------------------


def _orders_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same synthetic change log cdc_apply_changes_orders applies
    (pipeline_queries.py): v1 snapshot, v2 upserts for key%10==0, v3
    tombstones for key%7==0 — here kept as HISTORY instead of compacted."""
    o = read_parquet_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice").withColumn(
        "version", F.lit(1)
    ).withColumn("op", F.lit("U"))
    upserts = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
    )
    deletes = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(3).alias("version"),
        F.lit("D").alias("op"),
    )
    return base.unionByName(upserts).unionByName(deletes)


def scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build over the orders change log: every
    historical state with [valid_from, valid_to) version bounds and an
    is_current flag (operators/merge.scd2_build — one lead() window per
    key). The same change batch cdc_apply_changes_orders COMPACTS to
    latest-state; this keeps the audit history a warehouse dimension
    needs, tombstones closing intervals without emitting rows."""
    from data_integration_case_study_spark.operators.merge import scd2_build

    return scd2_build(
        _orders_change_log(spark, sf_dir),
        ["o_orderkey"],
        version_col="version",
        op_col="op",
    )


SCD2_ORDERS_SQL = """
WITH log AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version, 'U' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice * CAST(1.1 AS DOUBLE), 2, 'U'
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 'D'
  FROM orders WHERE o_orderkey % 7 = 0
),
intervals AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, version, op,
         version AS valid_from,
         lead(version) OVER (PARTITION BY o_orderkey ORDER BY version ASC)
           AS valid_to
  FROM log
)
SELECT o_orderkey, o_orderstatus, o_totalprice, version,
       valid_from, valid_to,
       (valid_to IS NULL AND op <> 'D') AS is_current
FROM intervals WHERE op <> 'D'
"""


# --- data-quality expectations --------------------------------------------


def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative quality gate on orders: the dbt-style core four
    (not_null, unique, accepted_values, in_range) evaluated in one
    aggregation pass (operators/quality.expectations_report). The suite
    mixes passing rules with two that catch real rows ('P' status not in
    the accepted list; totalprice cap below the actual max), so the
    report shape is proven on both outcomes."""
    from data_integration_case_study_spark.operators.quality import (
        expectations_report,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    return expectations_report(
        o,
        [
            ("not_null", "o_custkey"),
            ("not_null", "o_orderdate"),
            ("unique", "o_orderkey"),
            ("accepted_values", "o_orderstatus", ["O", "F"]),
            ("in_range", "o_totalprice", 0.0, 400000.0),
        ],
    )


DQ_EXPECTATIONS_ORDERS_SQL = """
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O', 'F')
                   THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                        AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)
                   THEN 1 ELSE 0 END) AS BIGINT) AS v4,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey)
              - CASE WHEN COUNT(*) > COUNT(o_orderkey) THEN 1 ELSE 0 END
           AS BIGINT) AS v2
  FROM orders
)
SELECT 0 AS rule_id, 'not_null' AS rule, 'o_custkey' AS "column", v0 AS violations,
       total, v0 = 0 AS passed FROM s
UNION ALL
SELECT 1, 'not_null', 'o_orderdate', v1, total, v1 = 0 FROM s
UNION ALL
SELECT 2, 'unique', 'o_orderkey', greatest(v2, 0), total, greatest(v2, 0) = 0 FROM s
UNION ALL
SELECT 3, 'accepted_values', 'o_orderstatus', v3, total, v3 = 0 FROM s
UNION ALL
SELECT 4, 'in_range', 'o_totalprice', v4, total, v4 = 0 FROM s
"""


# --- sketch profiling ------------------------------------------------------

_KMV_K = 64


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via the k-minimum-values
    sketch (operators/sketches.kmv_distinct, k=64) — the bounded-state
    form of count(DISTINCT user_id): the shuffle carries at most k longs
    per group no matter how many events or users exist, and two sketches
    merge by re-ranking their union. sha256-derived hashes make the
    estimate a deterministic function of the data, replayed exactly by
    the oracle."""
    from data_integration_case_study_spark.operators.sketches import (
        kmv_distinct,
    )

    e = read_parquet_table(spark, sf_dir, "events")
    return kmv_distinct(e, ["event_type"], "user_id", k=_KMV_K)


KMV_DISTINCT_USERS_SQL = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         {hash60_sql("CAST(user_id AS VARCHAR)")} AS h
  FROM events WHERE user_id IS NOT NULL
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS r
  FROM hashed
),
sk AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS sketch_size,
         MAX(h) AS kth_min
  FROM ranked WHERE r <= {_KMV_K} GROUP BY event_type
)
SELECT event_type, sketch_size, kth_min,
       CASE WHEN sketch_size < {_KMV_K} THEN CAST(sketch_size AS DOUBLE)
            ELSE CAST({_KMV_K - 1} AS DOUBLE) * 1152921504606846976.0
                 / CAST(kth_min AS DOUBLE)
       END AS est_distinct
FROM sk
"""


_CMS_DEPTH, _CMS_WIDTH = 4, 1024


def cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch event counts per user, reported against truth:
    build the 4x1024 counter grid over all events
    (operators/sketches.cms_build — bounded state, one pass), estimate
    every observed user from the broadcast sketch, and join the exact
    count so the row carries (user_id, est_count, true_count) with
    est >= true by construction. The sketch is what survives at 100 TB —
    the exact side here exists to prove the estimates."""
    from data_integration_case_study_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    e = read_parquet_table(spark, sf_dir, "events")
    sketch = cms_build(e, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    est = cms_estimate(
        sketch, truth.select("user_id"), "user_id", _CMS_DEPTH, _CMS_WIDTH
    )
    return est.join(truth, "user_id").select("user_id", "est_count", "true_count")


def _cms_cols_sql() -> str:
    h = f"({hash60_sql('CAST(user_id AS VARCHAR)')} % {_MERSENNE})"
    cells = ", ".join(
        f"(({a} * {h} + {b}) % {_MERSENNE}) % {_CMS_WIDTH}"
        for a, b in _affine_params(_CMS_DEPTH, CMS_SEED)
    )
    rows = ", ".join(str(i) for i in range(_CMS_DEPTH))
    return f"unnest([{rows}]) AS row, unnest([{cells}]) AS col"


CMS_HEAVY_USERS_SQL = f"""
WITH probes AS (
  SELECT user_id, {_cms_cols_sql()} FROM events
),
sketch AS (
  SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM probes GROUP BY row, col
),
keyed AS (
  SELECT DISTINCT user_id, row, col FROM probes
),
est AS (
  SELECT k.user_id, MIN(coalesce(s.cnt, 0)) AS est_count
  FROM keyed k LEFT JOIN sketch s ON k.row = s.row AND k.col = s.col
  GROUP BY k.user_id
),
truth AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM events GROUP BY user_id
)
SELECT user_id, est_count, true_count FROM est JOIN truth USING (user_id)
"""


# --- attribution -----------------------------------------------------------


def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style first-touch attribution: credit every purchase's
    value to the event type of that user's FIRST event. One first_value
    window per user (single shuffle on user_id) tags each purchase with
    its user's entry channel; one aggregation rolls up (channel,
    purchases, attributed revenue with decimal accumulation)."""
    from data_integration_case_study_spark.functions.numeric import dsum
    from pyspark.sql import Window

    e = read_parquet_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
    )
    tagged = e.withColumn("first_touch", F.first("event_type").over(w))
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(dsum(F.col("value")), 6).alias("attributed_value"),
        )
    )


FIRST_TOUCH_ATTRIBUTION_SQL = """
WITH tagged AS (
  SELECT event_type, value,
         first_value(event_type)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS first_touch
  FROM events
)
SELECT first_touch,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       round(CAST(CAST(SUM(CAST((value) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE), 6)
         AS attributed_value
FROM tagged WHERE event_type = 'purchase'
GROUP BY first_touch
"""


# --- moment-based statistics ----------------------------------------------


def stats_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment statistics per return flag: mean,
    sample variance/stddev of extendedprice, and the price-quantity
    Pearson correlation — var_samp/corr reimplemented from RAW MOMENTS
    (n, Σx, Σx², Σy, Σy², Σxy) instead of Spark's streaming aggregates,
    because moments are (a) one map-side-combinable pass, (b) mergeable
    across shards/days the way a 100 TB profiling job needs (sum the
    six numbers), and (c) deterministic: each Σ accumulates via dsum's
    decimal snap, so the derived statistics are pure functions of the
    data — Spark's built-in var_samp/corr accumulate doubles in
    partition order and cannot be oracle-hashed.

    Derivations (IEEE double ops on the exact sums, identical in any
    engine): var = (Σx² - (Σx)²/n)/(n-1);
    corr = (nΣxy - ΣxΣy)/sqrt((nΣx² - (Σx)²)(nΣy² - (Σy)²))."""
    from data_integration_case_study_spark.functions.numeric import dsum
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    # six decimal accumulators per row over a single-split scan at test
    # SF — spread so the map side uses every core
    li = spread_to_parallelism(read_parquet_table(spark, sf_dir, "lineitem"))
    x, y = F.col("l_extendedprice"), F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(x * x).alias("sxx"),
        dsum(y).alias("sy"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var = (sxx - sx * sx / n) / (n - F.lit(1.0))
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.round(sx / n, 6).alias("mean_price"),
        F.round(var, 6).alias("var_price"),
        F.round(F.sqrt(var), 6).alias("stddev_price"),
        F.round(corr, 6).alias("corr_price_qty"),
    )


STATS_PROFILE_LINEITEM_SQL = f"""
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql('l_extendedprice')} AS sx,
         {dsum_sql('l_extendedprice * l_extendedprice')} AS sxx,
         {dsum_sql('l_quantity')} AS sy,
         {dsum_sql('l_quantity * l_quantity')} AS syy,
         {dsum_sql('l_extendedprice * l_quantity')} AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round(sx / n, 6) AS mean_price,
       round((sxx - sx * sx / n) / (n - 1.0), 6) AS var_price,
       round(sqrt((sxx - sx * sx / n) / (n - 1.0)), 6) AS stddev_price,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS corr_price_qty
FROM m
"""


# --- sorted-neighborhood ER blocking ---------------------------------------


def sorted_neighborhood_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER pass over customers (operators/dedup.
    sorted_neighborhood_pairs): within each nation block, names sort and
    each record pairs with its 10 sort-successors; a levenshtein <= 2
    verify keeps true matches. The RECALL-BOUNDED counterpart of
    ``fuzzy_name_pairs``' exact candidate cover — b·w candidates per
    block instead of a key explosion, with the documented miss rate
    (pairs sorting > w apart, or split across nations). The method is
    what you run on attributes with no algebraic cover (free-text
    addresses); the exact cover is the verification tier."""
    from data_integration_case_study_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    c = read_parquet_table(spark, sf_dir, "customer")
    cand = sorted_neighborhood_pairs(
        c, "c_custkey", "c_name", "c_nationkey", window=10
    )
    return (
        cand.withColumn("distance", F.levenshtein("key_a", "key_b"))
        .filter(F.col("distance") <= 2)
        .select(
            F.col("id_a").alias("custkey_a"),
            F.col("id_b").alias("custkey_b"),
            F.col("block").alias("nationkey"),
            "distance",
        )
    )


SORTED_NEIGHBORHOOD_MATCHES_SQL = """
WITH ranked AS (
  SELECT c_custkey AS id, c_name AS key, c_nationkey AS block,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_name ASC, c_custkey ASC) AS r
  FROM customer
),
probes AS (
  SELECT id AS id_a, key AS key_a, block,
         unnest(generate_series(r + 1, r + 10)) AS r
  FROM ranked
)
SELECT p.id_a AS custkey_a, t.id AS custkey_b, p.block AS nationkey,
       levenshtein(p.key_a, t.key) AS distance
FROM probes p JOIN ranked t ON t.block = p.block AND t.r = p.r
WHERE levenshtein(p.key_a, t.key) <= 2
"""


# --- histogram quantile sketch ---------------------------------------------


def histogram_quantiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-status price quantiles (p50/p95/p99) from a
    256-bin fixed-width histogram (operators/sketches.
    histogram_quantiles) — the bounded-state, mergeable form of
    ``quantiles_by_segment``'s exact interpolated percentile: counters
    sum across shards/days, estimate error is bounded by the ~2k bin
    width, and no per-group value sort ever happens."""
    from data_integration_case_study_spark.operators.sketches import (
        histogram_quantiles,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    return histogram_quantiles(
        o, ["o_orderstatus"], "o_totalprice",
        lo=0.0, hi=512000.0, bins=256, quantiles=(0.5, 0.95, 0.99),
    )


HISTOGRAM_QUANTILES_ORDERS_SQL = """
WITH binned AS (
  SELECT o_orderstatus,
         greatest(0, least(255,
           CAST(floor(CAST(o_totalprice AS DOUBLE) / 2000.0) AS INT))) AS b
  FROM orders
),
counts AS (
  SELECT o_orderstatus, b, COUNT(*) AS c
  FROM binned GROUP BY o_orderstatus, b
),
cum AS (
  SELECT o_orderstatus, b, c,
         SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS cm,
         SUM(c) OVER (PARTITION BY o_orderstatus) AS n
  FROM counts
),
qf AS (
  SELECT o_orderstatus, b, c, cm, n, q, q * CAST(n AS DOUBLE) AS target
  FROM cum, (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q)
),
crossing AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus, q ORDER BY b) AS rn
  FROM qf WHERE CAST(cm AS DOUBLE) >= target
)
SELECT o_orderstatus, q,
       (CAST(b AS DOUBLE)
        + (target - CAST(cm - c AS DOUBLE)) / CAST(c AS DOUBLE)) * 2000.0
         AS est
FROM crossing WHERE rn = 1
"""


# --- one-pass multi-column sketch profile ----------------------------------

_PROFILE_COLS = ("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")


def sketch_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality profile of FOUR orders columns in ONE scan: each row
    explodes to (column_name, value-as-string) and a single KMV pass
    estimates every column's distinct count simultaneously — the
    bounded-state replacement for the reference's per-column eager
    ``nunique`` (data_analysis.py), which at 100 TB would cost one full
    shuffle per column. State: ≤ k longs per column, whatever the
    table size; adding columns adds explode width, not passes.

    Value canonicalization: integers and timestamps cast to their
    canonical strings identically in Spark and DuckDB, so the sketch —
    not just the estimate — is engine-reproducible."""
    from data_integration_case_study_spark.operators.sketches import (
        kmv_distinct,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    long = o.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.col(c).cast("string").alias("val"),
                )
                for c in _PROFILE_COLS
            ])
        ).alias("cv")
    ).select("cv.column_name", "cv.val")
    return kmv_distinct(long, ["column_name"], "val", k=_KMV_K)


SKETCH_PROFILE_ORDERS_SQL = f"""
WITH long AS (
  {" UNION ALL ".join(f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS val FROM orders" for c in _PROFILE_COLS)}
),
hashed AS (
  SELECT DISTINCT column_name, {hash60_sql("val")} AS h FROM long WHERE val IS NOT NULL
),
ranked AS (
  SELECT column_name, h,
         row_number() OVER (PARTITION BY column_name ORDER BY h ASC) AS r
  FROM hashed
),
sk AS (
  SELECT column_name,
         CAST(COUNT(*) AS BIGINT) AS sketch_size,
         MAX(h) AS kth_min
  FROM ranked WHERE r <= {_KMV_K} GROUP BY column_name
)
SELECT column_name, sketch_size, kth_min,
       CASE WHEN sketch_size < {_KMV_K} THEN CAST(sketch_size AS DOUBLE)
            ELSE CAST({_KMV_K - 1} AS DOUBLE) * 1152921504606846976.0
                 / CAST(kth_min AS DOUBLE)
       END AS est_distinct
FROM sk
"""


# --- incremental view maintenance ------------------------------------------


def ivm_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the (status -> count, revenue)
    aggregate under the orders change log: instead of recomputing the
    aggregate from the compacted snapshot, every change becomes SIGNED
    delta rows (-old contribution, +new contribution; group moves fall
    out naturally when the status itself changes) and ONE aggregation
    folds base + deltas. This is how a 100 TB materialized aggregate
    absorbs a CDC feed — work proportional to the CHANGE BATCH, never
    to the accumulated table.

    The oracle is deliberately the OTHER algorithm: compact the log
    (latest version per key, drop tombstones) and aggregate from
    scratch — so the hash-check proves the delta algebra itself, not a
    mirrored implementation. Exactness: +x and -x cancel in decimal
    accumulation bit-for-bit, so the maintained aggregate equals the
    recomputed one exactly, not approximately."""
    log = _orders_change_log(spark, sf_dir)
    v1 = log.filter(F.col("version") == 1).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("s1"),
        F.col("o_totalprice").alias("p1"),
    )
    v2 = log.filter(F.col("version") == 2).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("s2"),
        F.col("o_totalprice").alias("p2"),
    )
    v3 = log.filter(F.col("version") == 3).select("o_orderkey")
    # state each delete removes: the v2 value if that key was upserted,
    # else the v1 value
    cur = v1.join(v2, "o_orderkey", "left").select(
        "o_orderkey",
        F.coalesce("s2", "s1").alias("cs"),
        F.coalesce("p2", "p1").alias("cp"),
    )
    deltas = (
        v1.select(
            F.col("s1").alias("o_orderstatus"),
            F.lit(1).alias("sgn"),
            F.col("p1").alias("price"),
        )
        .unionByName(
            v2.join(v1, "o_orderkey").select(
                F.col("s1").alias("o_orderstatus"),
                F.lit(-1).alias("sgn"),
                F.col("p1").alias("price"),
            )
        )
        .unionByName(
            v2.select(
                F.col("s2").alias("o_orderstatus"),
                F.lit(1).alias("sgn"),
                F.col("p2").alias("price"),
            )
        )
        .unionByName(
            v3.join(cur, "o_orderkey").select(
                F.col("cs").alias("o_orderstatus"),
                F.lit(-1).alias("sgn"),
                F.col("cp").alias("price"),
            )
        )
    )
    return (
        deltas.groupBy("o_orderstatus")
        .agg(
            F.sum("sgn").alias("cnt"),
            F.sum((F.col("price") * F.col("sgn")).cast("decimal(38,8)"))
            .cast("double")
            .alias("revenue"),
        )
        .filter(F.col("cnt") > 0)
    )


IVM_ORDERS_BY_STATUS_SQL = f"""
WITH log AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version, 'U' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice * CAST(1.1 AS DOUBLE), 2, 'U'
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 'D'
  FROM orders WHERE o_orderkey % 7 = 0
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC) AS rn
  FROM log
)
SELECT o_orderstatus, COUNT(*) AS cnt, {dsum_sql("o_totalprice")} AS revenue
FROM latest WHERE rn = 1 AND op <> 'D'
GROUP BY o_orderstatus
"""


# --- MDM golden record ------------------------------------------------------


def golden_record_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship over three synthetic customer feeds (CRM:
    priority 1, trusted but sparse; billing: priority 2, has balances;
    legacy: priority 3, complete but stale): per field, the golden value
    is the highest-priority non-null, with the winning feed emitted as
    provenance (operators/integrate.golden_record — one struct-MIN
    aggregation by entity key). The feeds are built so every
    survivorship path is exercised: CRM drops names for key%3=0 and
    segments for key%2=0, billing carries no segment, legacy disagrees
    everywhere."""
    from data_integration_case_study_spark.operators.integrate import (
        golden_record,
    )

    c = read_parquet_table(spark, sf_dir, "customer")
    f1 = c.select(
        "c_custkey",
        F.lit(1).alias("priority"),
        F.when(F.col("c_custkey") % 3 != 0, F.lower("c_name")).alias("name"),
        F.lit(None).cast("double").alias("acctbal"),
        F.when(F.col("c_custkey") % 2 != 0, F.col("c_mktsegment")).alias(
            "mktsegment"
        ),
    )
    f2 = c.select(
        "c_custkey",
        F.lit(2).alias("priority"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit(None).cast("string").alias("mktsegment"),
    )
    f3 = c.select(
        "c_custkey",
        F.lit(3).alias("priority"),
        F.upper("c_name").alias("name"),
        (F.col("c_acctbal") - F.lit(10.0)).alias("acctbal"),
        F.lit("UNKNOWN").alias("mktsegment"),
    )
    feeds = f1.unionByName(f2).unionByName(f3)
    return golden_record(
        feeds, ["c_custkey"], ["name", "acctbal", "mktsegment"]
    )


def _gr_pick(field: str) -> str:
    m = (
        "min(CASE WHEN {f} IS NOT NULL "
        "THEN {{'p': priority, 'v': {f}}} END)"
    ).format(f=field)
    return f"({m}).v AS {field}, ({m}).p AS {field}_src"


GOLDEN_RECORD_CUSTOMERS_SQL = f"""
WITH feeds AS (
  SELECT c_custkey, 1 AS priority,
         CASE WHEN c_custkey % 3 <> 0 THEN lower(c_name) END AS name,
         CAST(NULL AS DOUBLE) AS acctbal,
         CASE WHEN c_custkey % 2 <> 0 THEN c_mktsegment END AS mktsegment
  FROM customer
  UNION ALL
  SELECT c_custkey, 2, c_name, c_acctbal, NULL FROM customer
  UNION ALL
  SELECT c_custkey, 3, upper(c_name), c_acctbal - 10.0, 'UNKNOWN'
  FROM customer
)
SELECT c_custkey,
       {_gr_pick("name")},
       {_gr_pick("acctbal")},
       {_gr_pick("mktsegment")}
FROM feeds GROUP BY c_custkey
"""


# --- referential-integrity audit --------------------------------------------

_FK_RELATIONS = [
    ("lineitem.l_orderkey -> orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey -> customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey -> nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
]


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's five FK
    edges: child rows whose key (including NULL keys, which can
    satisfy no FK) has no parent — the load-validation report a
    warehouse runs after every ingest, and the distributed form of an
    un-enforceable FOREIGN KEY constraint on a data lake.

    Shape: per edge, the child collapses to DISTINCT keys FIRST (the
    anti-join runs on key cardinality, not fact cardinality), orphan
    keys anti-join the parent, and one count of affected child rows
    comes from the key-grain aggregate — the key frame is persisted
    (tracked cache) so its two consumers share ONE fact scan per
    edge; nothing fact-sized is ever joined."""
    from data_integration_case_study_spark.operators import cache

    out = None
    for name, child, ckey, parent, pkey in _FK_RELATIONS:
        c = read_parquet_table(spark, sf_dir, child)
        p = read_parquet_table(spark, sf_dir, parent)
        keys = cache.track(
            c.groupBy(F.col(ckey).alias("__k")).agg(
                F.count(F.lit(1)).alias("__n")
            )
        )
        # left_anti on an equi-key keeps NULL-key rows too (NULL matches
        # no parent) — exactly the FK-violation semantics needed here
        orphans = keys.join(
            p.select(F.col(pkey).alias("__k")), "__k", "left_anti"
        )
        audit = keys.agg(
            F.lit(name).alias("relation"),
            F.sum("__n").cast("long").alias("n_child_rows"),
        ).crossJoin(
            F.broadcast(
                orphans.agg(
                    F.coalesce(F.sum("__n"), F.lit(0))
                    .cast("long")
                    .alias("n_orphan_rows"),
                    F.count(F.lit(1)).cast("long").alias("n_orphan_keys"),
                )
            )
        ).select(
            "relation",
            "n_child_rows",
            "n_orphan_rows",
            "n_orphan_keys",
            (F.col("n_orphan_rows") == 0).alias("intact"),
        )
        out = audit if out is None else out.unionByName(audit)
    return out


def _fk_audit_sql() -> str:
    parts = []
    for name, child, ckey, parent, pkey in _FK_RELATIONS:
        parts.append(f"""
SELECT '{name}' AS relation, n_child_rows, n_orphan_rows, n_orphan_keys,
       n_orphan_rows = 0 AS intact
FROM (
  WITH keys AS (
    SELECT {ckey} AS k, COUNT(*) AS n FROM {child} GROUP BY 1
  ),
  orph AS (
    SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_orphan_rows,
           CAST(COUNT(*) AS BIGINT) AS n_orphan_keys
    FROM keys
    WHERE k IS NULL
       OR NOT EXISTS (SELECT 1 FROM {parent} WHERE {pkey} = keys.k)
  )
  SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM keys) AS n_child_rows,
         n_orphan_rows, n_orphan_keys
  FROM orph
)""")
    return " UNION ALL ".join(parts)


# --- SCD2 point-in-time lookup ----------------------------------------------


def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state readback from the SCD2 dimension: for each
    as-of version 1..3, the active row set's per-status count and
    exact-decimal revenue — the "what did the dimension say when the
    fact happened" join every history-keeping warehouse runs (here the
    probe is a 3-row version grid; in production it is the fact table's
    event version/timestamp).

    Shape: the interval lookup is a broadcast join of the tiny probe
    grid against the dimension with a half-open containment predicate
    (valid_from <= v < valid_to, open-ended current rows) — the same
    bounded interval-join discipline as interval_join_quarters; with a
    fact-sized probe side it becomes the bucketed_range_join form. One
    aggregation per (version, status) after the join."""
    from data_integration_case_study_spark.operators.merge import scd2_build

    dim = scd2_build(
        _orders_change_log(spark, sf_dir),
        ["o_orderkey"],
        version_col="version",
        op_col="op",
    )
    versions = spark.range(1, 4).select(F.col("id").cast("int").alias("as_of"))
    active = dim.join(
        F.broadcast(versions),
        (F.col("valid_from") <= F.col("as_of"))
        & (F.col("valid_to").isNull() | (F.col("as_of") < F.col("valid_to"))),
    )
    return active.groupBy("as_of", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        ).cast("double").alias("revenue_cents"),
    )


SCD2_POINT_IN_TIME_SQL = """
WITH log AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version, 'U' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice * CAST(1.1 AS DOUBLE), 2, 'U'
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 'D'
  FROM orders WHERE o_orderkey % 7 = 0
),
intervals AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, op,
         version AS valid_from,
         lead(version) OVER (PARTITION BY o_orderkey ORDER BY version ASC)
           AS valid_to
  FROM log
),
dim AS (SELECT * FROM intervals WHERE op <> 'D'),
versions AS (SELECT unnest(generate_series(1, 3)) AS as_of)
SELECT CAST(as_of AS INT) AS as_of, o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0)))
                 AS VARCHAR) AS DOUBLE) AS revenue_cents
FROM dim JOIN versions
  ON valid_from <= as_of AND (valid_to IS NULL OR as_of < valid_to)
GROUP BY 1, 2
"""


# --- HyperLogLog distinct report --------------------------------------------


def hll_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog cardinality report over TWO grains of the fact table
    in one scan — parts per ship year (thousands of distinct values:
    the raw alpha*m^2/Z branch) and suppliers per return flag (around
    a hundred: the linear-counting branch) — next to the exact count
    and the relative error, the audit row a profiling pipeline keeps
    while it trusts the sketch.

    Shape: each fact row explodes to two (grain, key, value) rows, one
    register aggregation (state: <= 2^p longs per group, mergeable by
    element-wise MAX — the sketch you'd keep per day/per shard and
    roll up for free), one estimate unfold. The exact COUNT(DISTINCT)
    leg exists for the audit only; the sketch leg alone is the 100 TB
    path. p=8 keeps the expected error ~6.5% (1.04/sqrt(256))."""
    from data_integration_case_study_spark.operators.sketches import (
        hll_sketch,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    long = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("partkey_by_shipyear").alias("grain"),
                    F.year("l_shipdate").cast("string").alias("key"),
                    F.col("l_partkey").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("suppkey_by_returnflag").alias("grain"),
                    F.col("l_returnflag").alias("key"),
                    F.col("l_suppkey").cast("string").alias("val"),
                ),
            )
        ).alias("g")
    ).select("g.grain", "g.key", "g.val")
    sk = hll_sketch(long, ["grain", "key"], "val", p=8)
    ex = long.groupBy("grain", "key").agg(
        F.countDistinct("val").alias("exact_distinct")
    )
    return sk.join(ex, ["grain", "key"]).select(
        "grain",
        "key",
        "n_zero_registers",
        "z_scaled",
        "est_distinct",
        "exact_distinct",
        (
            (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double")
        ).alias("rel_error"),
    )


def _hll_report_sql() -> str:
    from data_integration_case_study_spark.operators.sketches import (
        hll_sketch_sql,
    )

    src = """
SELECT 'partkey_by_shipyear' AS grain, CAST(year(l_shipdate) AS VARCHAR) AS key,
       CAST(l_partkey AS VARCHAR) AS val
FROM lineitem
UNION ALL
SELECT 'suppkey_by_returnflag', l_returnflag, CAST(l_suppkey AS VARCHAR)
FROM lineitem
"""
    sketch = hll_sketch_sql(src, ["grain", "key"], p=8)
    return f"""
WITH sk AS ({sketch}),
ex AS (
  SELECT grain, key, COUNT(DISTINCT val) AS exact_distinct
  FROM ({src}) GROUP BY 1, 2
)
SELECT sk.grain, sk.key, n_zero_registers, z_scaled, est_distinct,
       exact_distinct,
       (est_distinct - CAST(exact_distinct AS DOUBLE))
         / CAST(exact_distinct AS DOUBLE) AS rel_error
FROM sk JOIN ex ON sk.grain = ex.grain AND sk.key = ex.key
"""


# Candidate FDs spanning held (key→attr), violated (behavioral), and
# NULL-bearing columns — the shapes a discovery run must classify.
_FD_CANDIDATES = [
    ("nation", "n_nationkey", "n_regionkey"),
    ("documents", "doc_id", "lang"),
    ("events", "event_id", "user_id"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("lineitem", "l_orderkey", "l_suppkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_nationkey", "c_mktsegment"),
]


def fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over a fixed candidate list: for
    each (table, lhs -> rhs) report |distinct lhs|, |distinct (lhs,
    rhs)|, whether the FD HOLDS (the two are equal — every lhs value
    maps to one rhs), and the violating-group count (lhs values with
    >= 2 rhs values, the g1-style error) — the schema-knowledge half
    of profiling (key/attribute relationships, denormalization
    opportunities, silent data-entry drift) that nunique-style stats
    (data_analysis.py) can't see. Production FD miners (TANE/Metanome)
    search the lattice; the per-candidate VERIFIER below is the
    distributed primitive they all reduce to.

    Shape: per candidate ONE distinct-pair aggregation at key
    cardinality (map-side combinable), then a lhs-grain count — never
    a self-join. NULL rhs counts as a value (SQL DISTINCT semantics,
    identical in both engines)."""
    outs = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        t = read_parquet_table(spark, sf_dir, tbl)
        pairs = t.select(
            F.col(lhs).alias("l"), F.col(rhs).alias("r")
        ).distinct()
        per_lhs = pairs.groupBy("l").agg(F.count(F.lit(1)).alias("__nr"))
        agg = per_lhs.agg(
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum("__nr").alias("n_pairs"),
            F.sum((F.col("__nr") > 1).cast("long")).alias("violating_groups"),
        )
        outs.append(
            agg.select(
                F.lit(tbl).alias("tbl"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_lhs",
                "n_pairs",
                (F.col("n_pairs") == F.col("n_lhs")).alias("holds"),
                "violating_groups",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _fd_discovery_sql() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        parts.append(f"""
SELECT '{tbl}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
       COUNT(*) AS n_lhs,
       CAST(SUM(nr) AS BIGINT) AS n_pairs,
       SUM(nr) = COUNT(*) AS holds,
       CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS violating_groups
FROM (
  SELECT l, COUNT(*) AS nr FROM (
    SELECT DISTINCT {lhs} AS l, {rhs} AS r FROM {tbl}
  ) GROUP BY l
)""")
    return "\nUNION ALL\n".join(parts)


_JSE_D = 9


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join CARDINALITY estimation from AMS sketches — the
    original Alon-Matias-Szegedy application and the statistic a cost
    model needs before committing to a join order: |A join B| =
    sum_k fA(k)*fB(k) is the inner product of the key-frequency
    vectors, and the product of the two sides' sign counters
    Za_j * Zb_j is an unbiased estimate of it. Median of 9 de-noises.
    Two instructive pairs: lineitem x its returned-rows subset on
    l_partkey (genuine frequency skew) and orders x customer on the
    FK (exact = |orders|). Exact truths computed alongside via the
    per-key count join.

    Shape: each sketch is ONE map-side-combinable aggregation
    (constant state) — at 100 TB the sketches are per-shard summaries
    you maintain incrementally (operators/sketches.ams_merge adds);
    the estimate itself is a 1-row x 1-row product. The exact twin
    costs the real key-grain join and exists only as the audit
    column."""
    from data_integration_case_study_spark.operators.sketches import (
        ams_counters,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    o = read_parquet_table(spark, sf_dir, "orders")
    c = read_parquet_table(spark, sf_dir, "customer")
    pairs = [
        (
            "lineitem_x_returned_on_partkey",
            li.select(F.col("l_partkey").alias("k")),
            li.filter(F.col("l_returnflag") == "R").select(
                F.col("l_partkey").alias("k")
            ),
        ),
        (
            "orders_x_customer_on_custkey",
            o.select(F.col("o_custkey").alias("k")),
            c.select(F.col("c_custkey").alias("k")),
        ),
    ]
    outs = []
    for name, a, b in pairs:
        sa = ams_counters(a, [], "k", _JSE_D)
        sb = ams_counters(b, [], "k", _JSE_D)
        prods = F.array_sort(
            F.array(
                *[
                    F.col(f"za{j}") * F.col(f"zb{j}")
                    for j in range(_JSE_D)
                ]
            )
        )
        fa = a.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
        fb = b.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
        exact = fa.join(fb, "k").agg(
            F.sum(F.col("ca") * F.col("cb")).alias("exact_join_size")
        )
        row = (
            sa.select(
                F.col("n_rows").alias("n_left"),
                *[F.col(f"z{j}").alias(f"za{j}") for j in range(_JSE_D)],
            )
            .crossJoin(
                F.broadcast(
                    sb.select(
                        F.col("n_rows").alias("n_right"),
                        *[
                            F.col(f"z{j}").alias(f"zb{j}")
                            for j in range(_JSE_D)
                        ],
                    )
                )
            )
            .crossJoin(F.broadcast(exact))
            .select(
                F.lit(name).alias("pair"),
                "n_left",
                "n_right",
                F.element_at(prods, (_JSE_D + 1) // 2).alias(
                    "est_join_size"
                ),
                "exact_join_size",
            )
        )
        outs.append(row)
    return outs[0].unionByName(outs[1])


def _join_size_sql() -> str:
    from data_integration_case_study_spark.operators.dedup import (
        _MERSENNE,
        _affine_params,
    )
    from data_integration_case_study_spark.functions.text import hash60_sql

    params = _affine_params(_JSE_D, AMS_SEED)
    h = f"({hash60_sql('CAST(k AS VARCHAR)')} % {_MERSENNE})"

    def zsum(j, a, b):
        return (
            f"SUM(1 - 2 * ((({a} * {h} + {b}) % {_MERSENNE}) % 2)) AS z{j}"
        )

    zs = ", ".join(zsum(j, a, b) for j, (a, b) in enumerate(params))
    prods = ", ".join(f"sa.z{j} * sb.z{j}" for j in range(_JSE_D))
    parts = []
    for name, asrc, bsrc in [
        (
            "lineitem_x_returned_on_partkey",
            "SELECT l_partkey AS k FROM lineitem",
            "SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'",
        ),
        (
            "orders_x_customer_on_custkey",
            "SELECT o_custkey AS k FROM orders",
            "SELECT c_custkey AS k FROM customer",
        ),
    ]:
        parts.append(f"""
SELECT '{name}' AS pair, sa.n_rows AS n_left, sb.n_rows AS n_right,
       CAST(list_sort([{prods}])[{(_JSE_D + 1) // 2}] AS BIGINT)
         AS est_join_size,
       CAST((SELECT SUM(ca * cb) FROM
          (SELECT k, COUNT(*) AS ca FROM ({asrc}) WHERE k IS NOT NULL
           GROUP BY k) fa
          JOIN
          (SELECT k, COUNT(*) AS cb FROM ({bsrc}) WHERE k IS NOT NULL
           GROUP BY k) fb USING (k)) AS BIGINT) AS exact_join_size
FROM (SELECT COUNT(*) AS n_rows, {zs} FROM ({asrc}) WHERE k IS NOT NULL) sa
CROSS JOIN
     (SELECT COUNT(*) AS n_rows, {zs} FROM ({bsrc}) WHERE k IS NOT NULL) sb""")
    return "\nUNION ALL\n".join(parts)


# --- order/lineitem reconciliation ---------------------------------------------


def reconciliation_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation between the order header total and the
    sum of its line charges (extendedprice x (1-discount) x (1+tax)) —
    the month-end control a warehouse runs between a summary table and
    its detail feed: per order status, how many orders disagree, by how
    much at worst, and the total absolute drift.

    Shape: one per-order aggregation of line charges (exact cents via
    the floor(x*100+0.5) grid snap — round() half-breaks differ between
    engines), one join to headers, one status-domain fold. Orders with
    no lineitems reconcile against zero (left join + coalesce)."""
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias(
            "hdr_cents"
        ),
    )
    li = (
        read_parquet_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * (F.lit(1.0) + F.col("l_tax"))
                * 100
                + F.lit(0.5)
            )
            .cast("long")
            .alias("line_cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("line_cents").alias("det_cents"))
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_orderstatus",
        (F.col("hdr_cents") - F.coalesce("det_cents", F.lit(0))).alias("diff"),
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((F.col("diff") != 0).cast("int")).alias("n_mismatched"),
            (F.max(F.abs("diff")).cast("double") / 100.0).alias("max_abs_diff"),
            (F.sum(F.abs("diff")).cast("double") / 100.0).alias("total_abs_diff"),
        )
        .orderBy("o_orderstatus")
    )


RECONCILIATION_TOTALS_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS hdr_cents
  FROM orders
),
li AS (
  SELECT l_orderkey,
         SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                        * 100 + 0.5) AS BIGINT)) AS det_cents
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o_orderstatus, hdr_cents - COALESCE(det_cents, 0) AS diff
  FROM o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN diff <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatched,
       CAST(MAX(abs(diff)) AS DOUBLE) / 100.0 AS max_abs_diff,
       CAST(SUM(abs(diff)) AS DOUBLE) / 100.0 AS total_abs_diff
FROM j
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


QUERIES = {
    "fd_discovery": fd_discovery,
    "reconciliation_totals": reconciliation_totals,
    "join_size_estimate": join_size_estimate,
    "stats_profile_lineitem": stats_profile_lineitem,
    "hll_distinct_report": hll_distinct_report,
    "scd2_point_in_time": scd2_point_in_time,
    "fk_integrity_audit": fk_integrity_audit,
    "ivm_orders_by_status": ivm_orders_by_status,
    "sketch_profile_orders": sketch_profile_orders,
    "golden_record_customers": golden_record_customers,
    "sorted_neighborhood_matches": sorted_neighborhood_matches,
    "histogram_quantiles_orders": histogram_quantiles_orders,
    "scd2_orders": scd2_orders,
    "dq_expectations_orders": dq_expectations_orders,
    "kmv_distinct_users": kmv_distinct_users,
    "cms_heavy_users": cms_heavy_users,
    "first_touch_attribution": first_touch_attribution,
}

ORACLES = {
    "fd_discovery": _fd_discovery_sql(),
    "reconciliation_totals": RECONCILIATION_TOTALS_SQL,
    "join_size_estimate": _join_size_sql(),
    "stats_profile_lineitem": STATS_PROFILE_LINEITEM_SQL,
    "hll_distinct_report": _hll_report_sql(),
    "scd2_point_in_time": SCD2_POINT_IN_TIME_SQL,
    "fk_integrity_audit": _fk_audit_sql(),
    "ivm_orders_by_status": IVM_ORDERS_BY_STATUS_SQL,
    "sketch_profile_orders": SKETCH_PROFILE_ORDERS_SQL,
    "golden_record_customers": GOLDEN_RECORD_CUSTOMERS_SQL,
    "sorted_neighborhood_matches": SORTED_NEIGHBORHOOD_MATCHES_SQL,
    "histogram_quantiles_orders": HISTOGRAM_QUANTILES_ORDERS_SQL,
    "scd2_orders": SCD2_ORDERS_SQL,
    "dq_expectations_orders": DQ_EXPECTATIONS_ORDERS_SQL,
    "kmv_distinct_users": KMV_DISTINCT_USERS_SQL,
    "cms_heavy_users": CMS_HEAVY_USERS_SQL,
    "first_touch_attribution": FIRST_TOUCH_ATTRIBUTION_SQL,
}

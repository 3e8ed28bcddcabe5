"""Data-mining / statistics batch (round 4): the analyses a warehouse
team layers on top of the integrated tables once the plumbing works —
customer segmentation, statistical tests, smoothing, anomaly flags,
skew diagnostics, association rules, runtime-filter pruning, substring
fingerprints, and graph link prediction.

Provenance: the reference stops at eager pandas profiling
(data_analysis.py nunique/isna/duplicated); these are the distributed
analyses that profiling feeds at 100 TB, each with a DuckDB oracle twin.

Determinism discipline (repo-wide): integer/decimal arithmetic
everywhere an aggregation order could matter, a FIXED chain of IEEE
double ops after exact aggregates, explicit tie-breaks under every
window, and the VARCHAR route for DuckDB's decimal->double casts
(functions/numeric.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.numeric import dsum, dsum_sql
from data_integration_case_study_spark.functions.text import hash60_sql
from data_integration_case_study_spark.operators.dedup import (
    _MERSENNE,
    _affine_params,
)
from data_integration_case_study_spark.operators.sketches import BLOOM_SEED
from data_integration_case_study_spark.sources.readers import read_parquet_table


# --- RFM customer segmentation ---------------------------------------------


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency (days since last order,
    vs the corpus max date), Frequency (order count) and Monetary
    (exact-decimal spend), each cut into quartiles, concatenated into
    the classic 'RFM' segment code.

    Scale shape: one per-customer aggregation over the fact table, then
    three ntile windows over the CUSTOMER aggregate — rows there are
    customers, orders-of-magnitude fewer than facts, so the global sort
    each ntile implies is the same accepted cost as global_sorted_orders
    (range-partitioned sort, no single-machine assumption). Every ntile
    ORDER BY carries the customer key as a tie-break so quartile
    boundaries are deterministic, not partition-order luck."""
    o = read_parquet_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("__mx"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .withColumn("recency_days", F.datediff("__mx", "__last").cast("int"))
    )
    wr = Window.orderBy("recency_days", "o_custkey")
    wf = Window.orderBy(F.desc("frequency"), "o_custkey")
    wm = Window.orderBy(F.desc("monetary"), "o_custkey")
    return cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(wr).cast("int").alias("r_q"),
        F.ntile(4).over(wf).cast("int").alias("f_q"),
        F.ntile(4).over(wm).cast("int").alias("m_q"),
    ).withColumn(
        "segment",
        F.concat_ws(
            "",
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ),
    )


RFM_SEGMENTS_SQL = f"""
WITH cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_d,
         COUNT(*) AS frequency,
         {dsum_sql("o_totalprice")} AS monetary
  FROM orders GROUP BY o_custkey
),
mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
r AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_d, mxd) AS INT) AS recency_days,
         frequency, monetary
  FROM cust CROSS JOIN mx
),
q AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_q,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_q,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_q
  FROM r
)
SELECT *, CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR)
       AS segment
FROM q
"""


# --- chi-square independence test ------------------------------------------


def chi2_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority
    and order status: the contingency table with expected counts under
    independence, per-cell contributions, and the test statistic + dof
    repeated on every row (the report shape a quality monitor emits).

    Shape: ONE count aggregation over the facts; everything after runs
    on <= |priorities| x |statuses| cells (15 here), so the global
    windows cost nothing. Determinism: marginals are exact integer
    window sums; expected/contribution is a fixed chain of IEEE double
    ops from those integers; the chi2 total sums contributions through
    decimal (order-independent, numeric.py discipline)."""
    o = read_parquet_table(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("observed")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wall = Window.partitionBy()
    t = (
        cells.withColumn("__row_t", F.sum("observed").over(wr))
        .withColumn("__col_t", F.sum("observed").over(wc))
        .withColumn("__n", F.sum("observed").over(wall))
    )
    expected = (F.col("__row_t") * F.col("__col_t")).cast("double") / F.col(
        "__n"
    ).cast("double")
    t = t.withColumn("expected", expected).withColumn(
        "contrib",
        (F.col("observed").cast("double") - F.col("expected"))
        * (F.col("observed").cast("double") - F.col("expected"))
        / F.col("expected"),
    )
    dims = o.agg(
        (
            (F.countDistinct("o_orderpriority") - F.lit(1))
            * (F.countDistinct("o_orderstatus") - F.lit(1))
        ).alias("dof")
    )
    return (
        t.withColumn(
            "chi2_total",
            F.sum(F.col("contrib").cast("decimal(38,8)")).over(wall).cast("double"),
        )
        .crossJoin(F.broadcast(dims))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "observed",
            "expected",
            "contrib",
            "chi2_total",
            "dof",
        )
    )


CHI2_PRIORITY_STATUS_SQL = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS observed
  FROM orders GROUP BY 1, 2
),
marg AS (
  SELECT *,
         SUM(observed) OVER (PARTITION BY o_orderpriority) AS row_t,
         SUM(observed) OVER (PARTITION BY o_orderstatus) AS col_t,
         SUM(observed) OVER () AS n
  FROM cells
),
ex AS (
  SELECT o_orderpriority, o_orderstatus, observed,
         CAST(row_t * col_t AS DOUBLE) / CAST(n AS DOUBLE) AS expected
  FROM marg
),
ctr AS (
  SELECT *,
         (CAST(observed AS DOUBLE) - expected)
           * (CAST(observed AS DOUBLE) - expected) / expected AS contrib
  FROM ex
),
dims AS (
  SELECT (COUNT(DISTINCT o_orderpriority) - 1)
           * (COUNT(DISTINCT o_orderstatus) - 1) AS dof
  FROM orders
)
SELECT o_orderpriority, o_orderstatus, observed, expected, contrib,
       CAST(CAST(SUM(CAST(contrib AS DECIMAL(38,8))) OVER () AS VARCHAR)
            AS DOUBLE) AS chi2_total,
       dof
FROM ctr CROSS JOIN dims
"""


# --- Welch's t-test ---------------------------------------------------------


def welch_t_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the 'click' and
    'purchase' event value distributions — the A/B-test decision
    statistic, computed as ONE conditional aggregation pass (counts,
    exact-decimal sums and sums-of-squares per arm) followed by a fixed
    chain of double ops (means, variances, t, Welch-Satterthwaite df).
    Sqrt and division are correctly rounded IEEE ops, so the statistic
    is bit-identical in any engine — no tolerance comparison needed."""
    ev = read_parquet_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase") & F.col("value").isNotNull()
    )
    a = F.col("event_type") == "click"
    b = F.col("event_type") == "purchase"
    v = F.col("value")
    agg = ev.agg(
        F.count(F.when(a, 1)).alias("n_click"),
        dsum(F.when(a, v)).alias("__sa"),
        dsum(F.when(a, v * v)).alias("__qa"),
        F.count(F.when(b, 1)).alias("n_purchase"),
        dsum(F.when(b, v)).alias("__sb"),
        dsum(F.when(b, v * v)).alias("__qb"),
    )
    na = F.col("n_click").cast("double")
    nb = F.col("n_purchase").cast("double")
    ma = F.col("__sa") / na
    mb = F.col("__sb") / nb
    va = (F.col("__qa") - F.col("__sa") * F.col("__sa") / na) / (na - F.lit(1.0))
    vb = (F.col("__qb") - F.col("__sb") * F.col("__sb") / nb) / (nb - F.lit(1.0))
    out = agg.select(
        "n_click",
        "n_purchase",
        ma.alias("mean_click"),
        mb.alias("mean_purchase"),
        va.alias("var_click"),
        vb.alias("var_purchase"),
    )
    sea = F.col("var_click") / F.col("n_click").cast("double")
    seb = F.col("var_purchase") / F.col("n_purchase").cast("double")
    se2 = sea + seb
    return out.select(
        "*",
        ((F.col("mean_click") - F.col("mean_purchase")) / F.sqrt(se2)).alias(
            "t_stat"
        ),
        (
            se2
            * se2
            / (
                sea * sea / (F.col("n_click").cast("double") - F.lit(1.0))
                + seb * seb / (F.col("n_purchase").cast("double") - F.lit(1.0))
            )
        ).alias("welch_df"),
    )


WELCH_T_TEST_EVENTS_SQL = f"""
WITH agg AS (
  SELECT COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
         {dsum_sql("CASE WHEN event_type = 'click' THEN value END")} AS sa,
         {dsum_sql("CASE WHEN event_type = 'click' THEN value * value END")} AS qa,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
         {dsum_sql("CASE WHEN event_type = 'purchase' THEN value END")} AS sb,
         {dsum_sql("CASE WHEN event_type = 'purchase' THEN value * value END")} AS qb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
m AS (
  SELECT n_click, n_purchase,
         sa / CAST(n_click AS DOUBLE) AS mean_click,
         sb / CAST(n_purchase AS DOUBLE) AS mean_purchase,
         (qa - sa * sa / CAST(n_click AS DOUBLE))
           / (CAST(n_click AS DOUBLE) - 1.0) AS var_click,
         (qb - sb * sb / CAST(n_purchase AS DOUBLE))
           / (CAST(n_purchase AS DOUBLE) - 1.0) AS var_purchase
  FROM agg
)
SELECT *,
       (mean_click - mean_purchase)
         / sqrt(var_click / CAST(n_click AS DOUBLE)
                + var_purchase / CAST(n_purchase AS DOUBLE)) AS t_stat,
       (var_click / CAST(n_click AS DOUBLE)
          + var_purchase / CAST(n_purchase AS DOUBLE))
         * (var_click / CAST(n_click AS DOUBLE)
            + var_purchase / CAST(n_purchase AS DOUBLE))
         / ((var_click / CAST(n_click AS DOUBLE))
              * (var_click / CAST(n_click AS DOUBLE))
              / (CAST(n_click AS DOUBLE) - 1.0)
            + (var_purchase / CAST(n_purchase AS DOUBLE))
              * (var_purchase / CAST(n_purchase AS DOUBLE))
              / (CAST(n_purchase AS DOUBLE) - 1.0)) AS welch_df
FROM m
"""


# --- EWMA smoothing ---------------------------------------------------------

_EWMA_LAGS = 16  # alpha = 1/2, truncated at 16 lags: tail weight 2^-17


def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily order revenue —
    the smoothing/forecast-baseline pass a monitoring pipeline runs.
    alpha = 1/2 truncated at 16 lags (tail weight 2^-17), so every
    weight is a power of two and the whole smoother is INTEGER
    arithmetic: daily revenue in cents (exact decimal), each day's
    contribution to its next 16 calendar days carries weight 2^(15-k),
    one decimal sum per target day, ONE double division at the end. No
    recursion, no float accumulation order, bit-identical in any engine.

    Shape: per-day pre-aggregation first (facts collapse to days), then
    a 16-way map-side explode of the DAILY aggregate and a second tiny
    aggregation — cost is facts + 16 x days, never facts x lags.
    Calendar-robust: a day with no orders contributes nothing but still
    RECEIVES the decayed average of its predecessors (the bounds grid
    keeps output inside the observed date range)."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("decimal(38,0)")
            .alias("__c"),
        )
        .groupBy("day")
        .agg(F.sum("__c").alias("cents"))
    )
    contrib = daily.select(
        "cents",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.date_add("day", kk).alias("t_day"),
                        F.lit(1 << (_EWMA_LAGS - 1 - kk)).cast("long").alias("w"),
                    )
                    for kk in range(_EWMA_LAGS)
                ]
            )
        ).alias("tw"),
    ).select(F.col("tw.t_day").alias("day"), (F.col("cents") * F.col("tw.w")).alias("wc"))
    num = contrib.groupBy("day").agg(F.sum("wc").alias("__num"))
    bounds = daily.agg(F.min("day").alias("__mn"), F.max("day").alias("__mx"))
    scale = float((1 << _EWMA_LAGS) * 100)
    return (
        num.crossJoin(F.broadcast(bounds))
        .filter(F.col("day").between(F.col("__mn"), F.col("__mx")))
        .join(daily, "day", "left")
        .select(
            "day",
            (F.coalesce(F.col("cents"), F.lit(0)).cast("double") / F.lit(100.0)).alias(
                "revenue"
            ),
            (F.col("__num").cast("double") / F.lit(scale)).alias("ewma"),
        )
    )


EWMA_DAILY_REVENUE_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0))) AS cents
  FROM orders GROUP BY 1
),
contrib AS (
  SELECT day + CAST(k AS INT) AS day2,
         cents * (CAST(1 AS BIGINT) << ({_EWMA_LAGS} - 1 - k)) AS wc
  FROM daily CROSS JOIN (
    SELECT unnest(generate_series(0, {_EWMA_LAGS} - 1)) AS k
  )
),
num AS (SELECT day2 AS day, SUM(wc) AS num FROM contrib GROUP BY 1),
bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily)
SELECT n.day,
       CAST(CAST(coalesce(d.cents, 0) AS VARCHAR) AS DOUBLE) / 100.0 AS revenue,
       CAST(CAST(n.num AS VARCHAR) AS DOUBLE)
         / {float((1 << _EWMA_LAGS) * 100)} AS ewma
FROM num n
CROSS JOIN bounds
LEFT JOIN daily d ON d.day = n.day
WHERE n.day BETWEEN mn AND mx
"""


# --- Mann-Whitney U test ----------------------------------------------------


def mann_whitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the 'click' and
    'purchase' event value distributions — the NONPARAMETRIC twin of
    :func:`welch_t_test_events` (rank-based, so outlier-robust; the one
    you trust when the values aren't normal).

    Exactness under ties: pooled ranks are midranks, which are
    half-integers — so everything is computed in DOUBLED ranks
    (rank2 = lo + hi of the tie span), keeping the whole rank algebra
    in exact integers until the final fixed IEEE chain (U, tie-corrected
    z). Shape: one per-value count aggregation (values, not rows, cross
    the wire), one cumulative window over DISTINCT values, one 1-row
    fold."""
    ev = read_parquet_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase") & F.col("value").isNotNull()
    )
    per_v = ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n1v"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n2v"),
    )
    w = Window.orderBy("value")
    ranked = per_v.withColumn("t", F.col("n1v") + F.col("n2v")).withColumn(
        "cum", F.sum(F.col("n1v") + F.col("n2v")).over(w)
    )
    # doubled midrank of a tie span [cum-t+1, cum] is lo+hi = 2*cum-t+1
    rank2 = 2 * F.col("cum") - F.col("t") + 1
    agg = ranked.agg(
        F.sum("n1v").alias("n_click"),
        F.sum("n2v").alias("n_purchase"),
        F.sum((F.col("n1v") * rank2).cast("decimal(38,0)")).alias("__r1_2"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(
                "decimal(38,0)"
            )
        ).alias("__tie3"),
    )
    n1 = F.col("n_click").cast("double")
    n2 = F.col("n_purchase").cast("double")
    nn = n1 + n2
    u1 = (F.col("__r1_2").cast("double") - n1 * (n1 + F.lit(1.0))) / F.lit(2.0)
    mu = n1 * n2 / F.lit(2.0)
    sigma2 = (
        n1
        * n2
        / F.lit(12.0)
        * (
            (nn + F.lit(1.0))
            - F.col("__tie3").cast("double") / (nn * (nn - F.lit(1.0)))
        )
    )
    return agg.select(
        "n_click",
        "n_purchase",
        u1.alias("u_click"),
        (n1 * n2 - u1).alias("u_purchase"),
        ((u1 - mu) / F.sqrt(sigma2)).alias("z"),
    )


MANN_WHITNEY_EVENTS_SQL = """
WITH per_v AS (
  SELECT value,
         COUNT(*) FILTER (WHERE event_type = 'click') AS n1v,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS n2v
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY value
),
ranked AS (
  SELECT n1v, n2v, n1v + n2v AS t,
         SUM(n1v + n2v) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
  FROM per_v
),
agg AS (
  SELECT SUM(n1v) AS n_click, SUM(n2v) AS n_purchase,
         SUM(CAST(n1v * (2 * cum - t + 1) AS DECIMAL(38,0))) AS r1_2,
         SUM(CAST(t * t * t - t AS DECIMAL(38,0))) AS tie3
  FROM ranked
)
SELECT CAST(n_click AS BIGINT) AS n_click,
       CAST(n_purchase AS BIGINT) AS n_purchase,
       (CAST(CAST(r1_2 AS VARCHAR) AS DOUBLE)
        - CAST(n_click AS DOUBLE) * (CAST(n_click AS DOUBLE) + 1.0)) / 2.0
         AS u_click,
       CAST(n_click AS DOUBLE) * CAST(n_purchase AS DOUBLE)
       - (CAST(CAST(r1_2 AS VARCHAR) AS DOUBLE)
          - CAST(n_click AS DOUBLE) * (CAST(n_click AS DOUBLE) + 1.0)) / 2.0
         AS u_purchase,
       ((CAST(CAST(r1_2 AS VARCHAR) AS DOUBLE)
         - CAST(n_click AS DOUBLE) * (CAST(n_click AS DOUBLE) + 1.0)) / 2.0
        - CAST(n_click AS DOUBLE) * CAST(n_purchase AS DOUBLE) / 2.0)
       / sqrt(CAST(n_click AS DOUBLE) * CAST(n_purchase AS DOUBLE) / 12.0
              * ((CAST(n_click AS DOUBLE) + CAST(n_purchase AS DOUBLE) + 1.0)
                 - CAST(CAST(tie3 AS VARCHAR) AS DOUBLE)
                   / ((CAST(n_click AS DOUBLE) + CAST(n_purchase AS DOUBLE))
                      * (CAST(n_click AS DOUBLE) + CAST(n_purchase AS DOUBLE)
                         - 1.0)))) AS z
FROM agg
"""


# --- seasonal anomaly detection --------------------------------------------


def seasonal_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal anomaly detection over daily order revenue:
    each day's revenue is scored against ITS WEEKDAY's distribution
    (mean + stddev from exact decimal moments) and flagged when the
    z-score leaves +-3 — the seasonal-naive baseline a revenue monitor
    runs before alerting.

    Shape: facts collapse to days first; the per-weekday moments are
    window aggregates over the DAILY rows (<=366 per weekday per year).
    Determinism: daily cents are exact decimals, the sum of squares
    multiplies in DECIMAL(19,0) (a day's cents can exceed sqrt(2^63) at
    scale, so bigint squaring would overflow), and mean/var/z are a
    fixed IEEE chain from those exact sums."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("decimal(38,0)")
            .alias("__c"),
        )
        .groupBy("day")
        .agg(F.sum("__c").alias("cents"))
        .withColumn("dow", F.weekday("day").cast("int"))
    )
    wd = Window.partitionBy("dow")
    c19 = F.col("cents").cast("decimal(19,0)")
    t = (
        daily.withColumn("__n", F.count(F.lit(1)).over(wd))
        .withColumn("__s", F.sum("cents").over(wd).cast("double"))
        .withColumn("__q", F.sum(c19 * c19).over(wd).cast("double"))
    )
    n = F.col("__n").cast("double")
    mean_c = F.col("__s") / n
    var_c = (F.col("__q") - F.col("__s") * F.col("__s") / n) / (n - F.lit(1.0))
    z = (F.col("cents").cast("double") - mean_c) / F.sqrt(var_c)
    return t.select(
        "day",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        "dow",
        (mean_c / F.lit(100.0)).alias("baseline"),
        z.alias("z"),
        (F.abs(z) > F.lit(3.0)).alias("is_anomaly"),
    )


SEASONAL_ANOMALY_DAILY_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0))) AS cents,
         CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INT) AS dow
  FROM orders GROUP BY 1, 3
),
m AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY dow) AS n,
         CAST(CAST(SUM(cents) OVER (PARTITION BY dow) AS VARCHAR) AS DOUBLE)
           AS s,
         CAST(CAST(SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
                   OVER (PARTITION BY dow) AS VARCHAR) AS DOUBLE) AS q
  FROM daily
),
sc AS (
  SELECT day,
         CAST(CAST(cents AS VARCHAR) AS DOUBLE) / 100.0 AS revenue,
         dow,
         (s / CAST(n AS DOUBLE)) / 100.0 AS baseline,
         (CAST(CAST(cents AS VARCHAR) AS DOUBLE) - s / CAST(n AS DOUBLE))
           / sqrt((q - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
           AS z
  FROM m
)
SELECT day, revenue, dow, baseline, z, (abs(z) > 3.0) AS is_anomaly FROM sc
"""


# --- key-skew diagnostic ----------------------------------------------------


def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew census over lineitem's supplier key — the
    diagnostic you run BEFORE keying a 100 TB shuffle: per-key counts,
    the max and top-10 key shares, and the exact Gini coefficient of
    the key-frequency distribution (0 = uniform keys, ->1 = one key
    owns the table; the number that decides salting / AQE skew-join).

    Gini over sorted ascending counts c_1..c_n with ranks i:
    G = (2 * sum(i * c_i) - (n+1) * T) / (n * T) — exact integers up to
    ONE final double division. The rank windows run over per-KEY counts
    (suppliers, not lineitems), with key tie-breaks; one aggregation
    collapses everything to a single audit row."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    wa = Window.orderBy("cnt", "l_suppkey")
    wd = Window.orderBy(F.desc("cnt"), F.desc("l_suppkey"))
    r = counts.select(
        "cnt",
        F.row_number().over(wa).alias("i"),
        F.row_number().over(wd).alias("j"),
    )
    agg = r.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_count"),
        F.sum((F.col("i") * F.col("cnt")).cast("decimal(38,0)")).alias("__s"),
        F.sum(F.when(F.col("j") <= 10, F.col("cnt")).otherwise(F.lit(0))).alias(
            "__t10"
        ),
    )
    return agg.select(
        "n_keys",
        "total_rows",
        "max_count",
        (F.col("__t10").cast("double") / F.col("total_rows").cast("double")).alias(
            "top10_share"
        ),
        (
            (
                F.lit(2) * F.col("__s")
                - ((F.col("n_keys") + F.lit(1)) * F.col("total_rows")).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / (F.col("n_keys") * F.col("total_rows")).cast("double")
        ).alias("gini"),
    )


KEY_SKEW_REPORT_SQL = """
WITH counts AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
),
r AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt, l_suppkey) AS i,
         row_number() OVER (ORDER BY cnt DESC, l_suppkey DESC) AS j
  FROM counts
),
agg AS (
  SELECT COUNT(*) AS n_keys,
         SUM(cnt) AS total_rows,
         MAX(cnt) AS max_count,
         SUM(CAST(i * cnt AS DECIMAL(38,0))) AS s,
         SUM(CASE WHEN j <= 10 THEN cnt ELSE 0 END) AS t10
  FROM r
)
SELECT n_keys, CAST(total_rows AS BIGINT) AS total_rows, max_count,
       CAST(t10 AS DOUBLE) / CAST(total_rows AS DOUBLE) AS top10_share,
       CAST(CAST(2 * s - CAST((n_keys + 1) * total_rows AS DECIMAL(38,0))
                 AS VARCHAR) AS DOUBLE)
         / CAST(n_keys * total_rows AS DOUBLE) AS gini
FROM agg
"""


# --- market-basket association rules ---------------------------------------

_MIN_PAIR_SUPPORT = 3


def copurchase_pairs(li: DataFrame, min_support: int) -> DataFrame:
    """Shared co-occurrence stage of the basket analyses
    (association rules, item-item cosine, co-purchase k-core): distinct
    (order, part) items self-joined ON THE ORDER KEY — work bounded by
    sum(basket size^2), never catalog² — into undirected (pa < pb)
    pair counts, cut at ``min_support``. One definition so the three
    consumers can never silently disagree on what "co-purchased"
    means."""
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= min_support)
    )


def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order line items: for every
    part pair co-occurring in >= 3 orders, both directed rules with
    support, confidence and lift — the Apriori/FP-growth output for
    itemsets of size 2, as pure joins.

    Shape: pair generation is a SELF-JOIN ON THE ORDER KEY, so the
    quadratic blow-up is bounded by items-per-basket (single digits),
    never by catalog or order count; pair counts aggregate with
    map-side combine and the min-support filter cuts the tail before
    the metric joins. Metrics are integer counts with one exact bigint
    product each and ONE double division — engine-identical (count
    magnitudes stay well under 2^53 at tested SFs; at larger scale the
    products widen to decimal the same way dsum does)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.agg(F.countDistinct("l_orderkey").alias("__n"))
    item_cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("sup"))
    pairs = copurchase_pairs(li, _MIN_PAIR_SUPPORT).withColumnRenamed(
        "co", "sup_ab"
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "sup_ab"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "sup_ab",
        )
    )
    return (
        rules.join(
            item_cnt.select(
                F.col("l_partkey").alias("antecedent"), F.col("sup").alias("sup_a")
            ),
            "antecedent",
        )
        .join(
            item_cnt.select(
                F.col("l_partkey").alias("consequent"), F.col("sup").alias("sup_b")
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "sup_ab",
            (F.col("sup_ab").cast("double") / F.col("__n").cast("double")).alias(
                "support"
            ),
            (F.col("sup_ab").cast("double") / F.col("sup_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("sup_ab") * F.col("__n")).cast("double")
                / (F.col("sup_a") * F.col("sup_b")).cast("double")
            ).alias("lift"),
        )
    )


BASKET_ASSOCIATION_RULES_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
item_cnt AS (SELECT l_partkey, COUNT(*) AS sup FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS sup_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_MIN_PAIR_SUPPORT}
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, sup_ab FROM pairs
  UNION ALL
  SELECT pb, pa, sup_ab FROM pairs
)
SELECT antecedent, consequent, sup_ab,
       CAST(sup_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
       CAST(sup_ab AS DOUBLE) / CAST(ca.sup AS DOUBLE) AS confidence,
       CAST(sup_ab * n_orders AS DOUBLE)
         / CAST(ca.sup * cb.sup AS DOUBLE) AS lift
FROM rules
JOIN item_cnt ca ON ca.l_partkey = antecedent
JOIN item_cnt cb ON cb.l_partkey = consequent
CROSS JOIN n
"""


# --- Bloom-filter runtime pruning ------------------------------------------

_BLOOM_M = 4096
_BLOOM_K = 3


def bloom_filter_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join pruning with an explicit Bloom filter
    (operators/sketches.bloom_build/bloom_probe): build the filter over
    the custkeys of URGENT orders (the filtered build side of a
    star-join), probe every customer, and audit the outcome — probe
    size, true member count, Bloom pass count, false positives, and
    the realized false-positive rate.

    This is the manual form of the pruning a 100 TB star-join needs:
    the <= m/32-row word table broadcasts, and probe rows that cannot
    join are dropped BEFORE the shuffle (no false negatives by
    construction, so the join result is unchanged). The audit row is
    the query so the whole contract — membership vs Bloom verdict — is
    oracle-checked, not just the filter bits."""
    from data_integration_case_study_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    c = read_parquet_table(spark, sf_dir, "customer")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    bloom = bloom_build(urgent, "o_custkey", m_bits=_BLOOM_M, k=_BLOOM_K)
    probed = bloom_probe(
        bloom, c.select("c_custkey"), "c_custkey", m_bits=_BLOOM_M, k=_BLOOM_K
    )
    members = urgent.distinct().withColumn("__member", F.lit(True))
    audit = probed.join(
        members, probed["c_custkey"] == members["o_custkey"], "left"
    ).select(
        "c_custkey",
        "bloom_pass",
        F.coalesce(F.col("__member"), F.lit(False)).alias("member"),
    )
    return audit.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("member"), 1).otherwise(0)).alias("n_member"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("member"), 1).otherwise(0)
        ).alias("n_false_pos"),
    ).select(
        "*",
        (
            F.col("n_false_pos").cast("double")
            / (F.col("n_probe") - F.col("n_member")).cast("double")
        ).alias("fp_rate"),
    )


def _bloom_pos_sql(key_expr: str) -> list[str]:
    """The k bit positions of a key as a LIST of SELECT-arm strings (one
    per hash; callers append a FROM clause and UNION ALL them) —
    engine-inlined affine constants, identical to _bloom_positions."""
    h = f"({hash60_sql(key_expr)} % {_MERSENNE})"
    arms = [
        f"SELECT __k, (({a} * {h} + {b}) % {_MERSENNE}) % {_BLOOM_M} AS p"
        for a, b in _affine_params(_BLOOM_K, BLOOM_SEED)
    ]
    return arms


BLOOM_FILTER_PRUNING_SQL = f"""
WITH build AS (
  SELECT o_custkey AS __k FROM orders WHERE o_orderpriority = '1-URGENT'
),
bpos AS (
  {" UNION ALL ".join(s + " FROM build" for s in _bloom_pos_sql("CAST(__k AS VARCHAR)"))}
),
words AS (
  SELECT p // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS word
  FROM bpos GROUP BY 1
),
probe AS (SELECT c_custkey AS __k FROM customer),
ppos AS (
  {" UNION ALL ".join(s + " FROM probe" for s in _bloom_pos_sql("CAST(__k AS VARCHAR)"))}
),
verdict AS (
  SELECT __k AS c_custkey,
         bool_and(
           coalesce(w.word, 0) & (CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) <> 0
         ) AS bloom_pass
  FROM ppos LEFT JOIN words w ON w.word_idx = p // 32
  GROUP BY 1
),
audit AS (
  SELECT v.c_custkey, v.bloom_pass,
         (v.c_custkey IN (SELECT __k FROM build)) AS member
  FROM verdict v
),
agg AS (
  SELECT COUNT(*) AS n_probe,
         SUM(CASE WHEN member THEN 1 ELSE 0 END) AS n_member,
         SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS n_bloom_pass,
         SUM(CASE WHEN bloom_pass AND NOT member THEN 1 ELSE 0 END)
           AS n_false_pos
  FROM audit
)
SELECT n_probe, CAST(n_member AS BIGINT) AS n_member,
       CAST(n_bloom_pass AS BIGINT) AS n_bloom_pass,
       CAST(n_false_pos AS BIGINT) AS n_false_pos,
       CAST(n_false_pos AS DOUBLE) / CAST(n_probe - n_member AS DOUBLE)
         AS fp_rate
FROM agg
"""


# --- winnowing fingerprints -------------------------------------------------


def winnowing_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary per document (MOSS scheme;
    operators/dedup.winnowing_fingerprints, k=8 char-grams, window 4):
    the count of selected fingerprints, distinct hash count, and an
    exact decimal checksum over the selected (hash, position) set — a
    complete audit of the selection without shipping the set itself.
    Substring-level overlap detection then reduces to an equi-join on
    fp_h downstream (the guarantee: any shared run >= k + w - 1 chars
    shares a fingerprint)."""
    from data_integration_case_study_spark.operators.dedup import (
        winnowing_fingerprints,
    )
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    # the sha256-per-gram work is CPU-bound and the documents table scans
    # as one split at test SF — spread so every core hashes (at real
    # scale the scan already has enough splits and this widens)
    d = spread_to_parallelism(read_parquet_table(spark, sf_dir, "documents"))
    fp = winnowing_fingerprints(d, "doc_id", "text", k=8, w=4, max_chars=400)
    return fp.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.countDistinct("fp_h").alias("n_distinct_h"),
        F.sum((F.col("fp_h") + F.col("fp_pos")).cast("decimal(38,0)"))
        .cast("double")
        .alias("fp_checksum"),
    )


def _winnowing_fp_sql(src_sql: str) -> str:
    """The winnowing fingerprint CTE chain (k=8, w=4, max_chars=400)
    over any (doc_id, text) source — replays
    operators/dedup.winnowing_fingerprints; yields CTE ``fp`` with
    (doc_id, fp_pos, fp_h)."""
    return rf"""base AS (
  SELECT doc_id,
         substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 400) AS t
  FROM ({src_sql})
),
b2 AS (
  SELECT doc_id, t, length(t) - 8 + 1 AS ng,
         greatest(length(t) - 8 + 1 - 3, 1) AS maxj
  FROM base WHERE length(t) >= 8
),
grams AS (
  SELECT doc_id, maxj, unnest(generate_series(1, ng)) AS pos, t FROM b2
),
gh AS (
  SELECT doc_id, maxj, pos,
         ('0x' || substr(sha256(substr(t, pos, 8)), 1, 15))::BIGINT AS h
  FROM grams
),
wins AS (
  SELECT doc_id, pos - off AS j, h * 4 + (3 - off) AS enc
  FROM gh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS off)
  WHERE pos - off >= 1 AND pos - off <= maxj
),
sel AS (
  SELECT doc_id, j, MIN(enc) AS selv FROM wins GROUP BY 1, 2
),
fp AS (
  SELECT DISTINCT doc_id, j + 3 - (selv % 4) AS fp_pos, selv // 4 AS fp_h
  FROM sel
)"""


WINNOWING_DOC_FINGERPRINTS_SQL = f"""
WITH {_winnowing_fp_sql("SELECT doc_id, text FROM documents")}
SELECT doc_id, COUNT(*) AS n_fp, COUNT(DISTINCT fp_h) AS n_distinct_h,
       CAST(CAST(SUM(CAST(fp_h + fp_pos AS DECIMAL(38,0))) AS VARCHAR)
            AS DOUBLE) AS fp_checksum
FROM fp GROUP BY doc_id
"""


# --- winnowing overlap pairs ------------------------------------------------


def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-duplicate PAIRS from winnowing fingerprints
    — the detection step the fingerprint operator exists for (MOSS's
    second half): documents sharing >= 10 selected fingerprints, scored
    by containment (shared / smaller fingerprint set). Runs over the
    mutated corpus (text_queries._corpus: doc_id+1000000 copies with
    ~1/3 of words dropped), whose surviving word runs guarantee shared
    fingerprints between each original and its mutation — the partial-
    plagiarism case MinHash's global Jaccard dilutes.

    Scale shape: pair generation is an equi-join ON THE FINGERPRINT —
    never all-pairs — and stop-fingerprints (df > 20 docs, the
    boilerplate that would quadratically fan out) are dropped before
    the join, the same frequency-cap discipline as the prefix-filter
    join. Fingerprint sets are ~2/(w+1) of text length, so the join
    input is a fraction of the corpus."""
    from data_integration_case_study_spark.operators.dedup import (
        winnowing_fingerprints,
    )
    from data_integration_case_study_spark.plans.text_queries import _corpus

    c = _corpus(spark, sf_dir)
    fp = winnowing_fingerprints(c, "doc_id", "text", k=8, w=4, max_chars=400)
    sets = fp.select("id", "fp_h").distinct()
    dfc = sets.groupBy("fp_h").agg(F.count(F.lit(1)).alias("__df"))
    s = sets.join(dfc.filter(F.col("__df") <= 20).select("fp_h"), "fp_h")
    per_doc = s.groupBy("id").agg(F.count(F.lit(1)).alias("nf"))
    pairs = (
        s.select(F.col("id").alias("id_a"), "fp_h")
        .join(s.select(F.col("id").alias("id_b"), "fp_h"), "fp_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 10)
    )
    return (
        pairs.join(
            per_doc.select(F.col("id").alias("id_a"), F.col("nf").alias("__na")),
            "id_a",
        )
        .join(
            per_doc.select(F.col("id").alias("id_b"), F.col("nf").alias("__nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("__na", "__nb").cast("double")
            ).alias("containment"),
        )
    )


def _winnowing_overlap_sql() -> str:
    from data_integration_case_study_spark.plans.text_queries import (
        _CORPUS_SQL,
    )

    return f"""
WITH {_winnowing_fp_sql(_CORPUS_SQL)},
sets AS (SELECT DISTINCT doc_id, fp_h FROM fp),
dfc AS (SELECT fp_h, COUNT(*) AS df FROM sets GROUP BY 1),
s AS (SELECT sets.doc_id, sets.fp_h FROM sets JOIN dfc USING (fp_h)
      WHERE df <= 20),
per_doc AS (SELECT doc_id, COUNT(*) AS nf FROM s GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM s a JOIN s b ON a.fp_h = b.fp_h AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 10
)
SELECT id_a, id_b, n_shared,
       CAST(n_shared AS DOUBLE)
         / CAST(least(na.nf, nb.nf) AS DOUBLE) AS containment
FROM pairs
JOIN per_doc na ON na.doc_id = id_a
JOIN per_doc nb ON nb.doc_id = id_b
"""


# --- event precedence analysis ----------------------------------------------


def event_precedence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-gap precedence mining over user event histories: for every
    ordered event-type pair (A, B), how many users saw A strictly
    before B (comparing FIRST occurrences), out of the users who saw
    both — the frequent-2-sequence table (event_type_markov counts
    ADJACENT transitions; this counts precedence at any distance, the
    causal-ordering signal funnel designers read).

    Shape: facts collapse to (user, type, first_ts) — at most
    users x |types| rows — then one self-join per user bounded by
    |types|² and one count aggregation. Strict-tie discipline:
    simultaneous firsts count toward n_both but neither direction."""
    ev = read_parquet_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts")
    )
    a = firsts.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("first_ts").alias("fa"),
    )
    b = firsts.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("first_ts").alias("fb"),
    )
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") != F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.when(F.col("fa") < F.col("fb"), 1).otherwise(0)).alias(
                "n_before"
            ),
            F.count(F.lit(1)).alias("n_both"),
        )
        .select(
            "*",
            (
                F.col("n_before").cast("double") / F.col("n_both").cast("double")
            ).alias("share"),
        )
    )


EVENT_PRECEDENCE_COUNTS_SQL = """
WITH firsts AS (
  SELECT user_id, event_type, MIN(ts) AS first_ts
  FROM events GROUP BY 1, 2
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(SUM(CASE WHEN a.first_ts < b.first_ts THEN 1 ELSE 0 END)
            AS BIGINT) AS n_before,
       COUNT(*) AS n_both,
       CAST(SUM(CASE WHEN a.first_ts < b.first_ts THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS share
FROM firsts a
JOIN firsts b ON a.user_id = b.user_id AND a.event_type <> b.event_type
GROUP BY 1, 2
"""


# --- link prediction over the kNN graph ------------------------------------


def link_prediction_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the undirected kNN graph:
    for every NON-adjacent vector pair sharing >= 2 neighbors, the
    common-neighbor count, endpoint degrees, and neighborhood Jaccard
    (|common| / |union|) — the classic 'who should be connected'
    ranking (recommendation, graph densification for semantic
    clustering) as two equi-joins over the edge list.

    Shape: the same oriented-edge-list discipline as
    triangle_count_knn — candidate generation joins THROUGH the shared
    neighbor (fan-out bounded by degree <= 2k), adjacency is removed
    by one anti-join, and the score is integer counts with one exact
    double division. The edge list feeds four legs, so it is persisted
    via the tracked cache (caller releases, kNN-family contract)."""
    from data_integration_case_study_spark.operators import cache
    from data_integration_case_study_spark.operators import similarity

    e = read_parquet_table(spark, sf_dir, "embeddings")
    und = cache.track(
        similarity.knn_graph(e, k=3)
        .select(
            F.least("src_id", "nbr_id").alias("a"),
            F.greatest("src_id", "nbr_id").alias("b"),
        )
        .distinct()
    )
    sym = und.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        und.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    e1 = sym.select(F.col("s").alias("a"), F.col("d").alias("z"))
    e2 = sym.select(F.col("s").alias("z"), F.col("d").alias("b"))
    cn = (
        e1.join(e2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    cand = cn.join(und, ["a", "b"], "left_anti").filter(
        F.col("common_neighbors") >= 2
    )
    return (
        cand.join(deg.select(F.col("s").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("s").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            "common_neighbors",
            "deg_a",
            "deg_b",
            (
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


# --- TF-IDF top terms -------------------------------------------------------


def top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: the top-3 TF-IDF terms per document (rank
    window over the proven tf_idf query, ties broken lexically) — the
    per-document topic signature a corpus browser or clustering labeler
    reads. One extra window over the existing aggregation; no new
    shuffle of the corpus itself."""
    from data_integration_case_study_spark.plans import text_queries

    t = text_queries.tf_idf(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf_idf"), "token")
    return (
        t.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tf_idf", "rank")
    )


# --- OLS trend line ---------------------------------------------------------


def trend_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend of daily revenue over time: slope
    ($/day), intercept, and r² from RAW MOMENTS (n, Σx, Σx², Σy, Σy²,
    Σxy) — the distributed regression idiom: one map-side-combinable
    aggregation over the daily rows, mergeable across shards by summing
    six numbers, derived stats as a fixed IEEE chain (the built-in
    regr_* aggregates accumulate doubles in partition order and cannot
    be oracle-hashed).

    x is the epoch day number (exact integer), y is daily cents (exact
    decimal) — every moment is exact; dollars appear only in the final
    division."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("decimal(38,0)")
            .alias("__c"),
        )
        .groupBy("day")
        .agg(F.sum("__c").alias("cents"))
        .select(
            F.datediff("day", F.to_date(F.lit("1970-01-01"))).alias("x"),
            "cents",
        )
    )
    x = F.col("x").cast("decimal(38,0)")
    y = F.col("cents")
    m = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(y.cast("decimal(19,0)") * y.cast("decimal(19,0)"))
        .cast("double")
        .alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n_days").cast("double")
    sx, sxx = F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return m.select(
        "n_days",
        (slope / F.lit(100.0)).alias("slope_dollars_per_day"),
        (intercept / F.lit(100.0)).alias("intercept_dollars"),
        (corr * corr).alias("r2"),
    )


TREND_DAILY_REVENUE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0))) AS cents
  FROM orders GROUP BY 1
),
xy AS (
  SELECT CAST(day - DATE '1970-01-01' AS DECIMAL(38,0)) AS x, cents
  FROM daily
),
m AS (
  SELECT COUNT(*) AS n_days,
         CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(cents) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(cents AS DECIMAL(19,0))
                       * CAST(cents AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
           AS syy,
         CAST(CAST(SUM(x * cents) AS VARCHAR) AS DOUBLE) AS sxy
  FROM xy
)
SELECT n_days,
       ((CAST(n_days AS DOUBLE) * sxy - sx * sy)
        / (CAST(n_days AS DOUBLE) * sxx - sx * sx)) / 100.0
         AS slope_dollars_per_day,
       ((sy - ((CAST(n_days AS DOUBLE) * sxy - sx * sy)
               / (CAST(n_days AS DOUBLE) * sxx - sx * sx)) * sx)
        / CAST(n_days AS DOUBLE)) / 100.0 AS intercept_dollars,
       ((CAST(n_days AS DOUBLE) * sxy - sx * sy)
        / sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx)
               * (CAST(n_days AS DOUBLE) * syy - sy * sy)))
       * ((CAST(n_days AS DOUBLE) * sxy - sx * sy)
          / sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx)
                 * (CAST(n_days AS DOUBLE) * syy - sy * sy))) AS r2
FROM m
"""


# --- correlation matrix -----------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over four lineitem measures
    in ONE aggregation pass: all 14 moment sums (4 sums, 4 sums of
    squares, 6 cross-products) accumulate exactly in decimal
    simultaneously, and the 6 upper-triangle correlations unfold from
    the single moment row — the feature-screening pass that would
    otherwise cost one shuffle per pair. Mergeable across shards by
    summing moments (same contract as stats_profile_lineitem)."""
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    # 14 decimal accumulators per row is CPU-bound and the fact table
    # scans as one split at test SF — spread so every core accumulates
    li = spread_to_parallelism(read_parquet_table(spark, sf_dir, "lineitem"))
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(dsum(F.col(c)).alias(f"s_{c}"))
        aggs.append(dsum(F.col(c) * F.col(c)).alias(f"q_{c}"))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            aggs.append(dsum(F.col(a) * F.col(b)).alias(f"x_{a}_{b}"))
    m = li.agg(*aggs)

    def corr(a: str, b: str):
        n = F.col("n")
        sa, sb = F.col(f"s_{a}"), F.col(f"s_{b}")
        qa, qb = F.col(f"q_{a}"), F.col(f"q_{b}")
        xab = F.col(f"x_{a}_{b}")
        return F.round(
            (n * xab - sa * sb)
            / F.sqrt((n * qa - sa * sa) * (n * qb - sb * sb)),
            6,
        )

    pairs = [
        F.struct(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
            corr(a, b).alias("corr"),
        )
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    return m.select(F.explode(F.array(*pairs)).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr"
    )


def _corr_cell_sql(a: str, b: str) -> str:
    return (
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"round((n * x_{a}_{b} - s_{a} * s_{b}) "
        f"/ sqrt((n * q_{a} - s_{a} * s_{a}) * (n * q_{b} - s_{b} * s_{b})), 6) "
        f"AS corr FROM m"
    )


CORR_MATRIX_LINEITEM_SQL = f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {", ".join(f"{dsum_sql(c)} AS s_{c}, {dsum_sql(f'{c} * {c}')} AS q_{c}" for c in _CORR_COLS)},
         {", ".join(f"{dsum_sql(f'{a} * {b}')} AS x_{a}_{b}" for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:])}
  FROM lineitem
)
{" UNION ALL ".join(_corr_cell_sql(a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:])}
"""


# --- Benford first-digit audit ---------------------------------------------

_BENFORD = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals —
    the forensic data-quality screen for fabricated or truncated
    monetary data: observed first-digit shares vs log10(1 + 1/d), with
    per-digit chi-square contributions and the total.

    Determinism: the first digit comes from the CENTS INTEGER's decimal
    string (never from double→string formatting, which differs between
    engines); the Benford expectations are driver-computed literals, so
    no transcendental functions execute in either engine; the statistic
    follows the chi2_priority_status discipline (exact counts, fixed
    IEEE chain, decimal-summed total). One aggregation over the facts,
    nine-row output."""
    o = read_parquet_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("observed")
    )
    wall = Window.partitionBy()
    expected_share = F.element_at(
        F.array(*[F.lit(_BENFORD[d]) for d in range(1, 10)]), F.col("digit")
    )
    t = (
        obs.withColumn("__n", F.sum("observed").over(wall))
        .withColumn("share", F.col("observed").cast("double") / F.col("__n").cast("double"))
        .withColumn("expected_share", expected_share)
        .withColumn(
            "contrib",
            (
                (F.col("observed").cast("double")
                 - F.col("__n").cast("double") * F.col("expected_share"))
                * (F.col("observed").cast("double")
                   - F.col("__n").cast("double") * F.col("expected_share"))
            )
            / (F.col("__n").cast("double") * F.col("expected_share")),
        )
    )
    return t.select(
        "digit",
        "observed",
        "share",
        "expected_share",
        "contrib",
        F.sum(F.col("contrib").cast("decimal(38,8)"))
        .over(wall)
        .cast("double")
        .alias("chi2_total"),
    )


BENFORD_PRICE_AUDIT_SQL = f"""
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS observed
  FROM orders GROUP BY 1
),
exp AS (
  -- the literals must be DOUBLE (DuckDB would infer DECIMAL and the
  -- canonical string form would diverge from Spark's double)
  SELECT digit, CAST(expected_share AS DOUBLE) AS expected_share
  FROM (VALUES
    {", ".join(f"({d}, {_BENFORD[d]!r})" for d in range(1, 10))}
  ) t(digit, expected_share)
),
t AS (
  SELECT o.digit, o.observed,
         SUM(o.observed) OVER () AS n,
         e.expected_share
  FROM obs o JOIN exp e ON e.digit = o.digit
),
sc AS (
  SELECT digit, observed,
         CAST(observed AS DOUBLE) / CAST(n AS DOUBLE) AS share,
         expected_share,
         ((CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * expected_share)
          * (CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * expected_share))
           / (CAST(n AS DOUBLE) * expected_share) AS contrib
  FROM t
)
SELECT digit, observed, share, expected_share, contrib,
       CAST(CAST(SUM(CAST(contrib AS DECIMAL(38,8))) OVER () AS VARCHAR)
            AS DOUBLE) AS chi2_total
FROM sc
"""


# --- behavioral path-pattern analysis --------------------------------------


def path_pattern_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user journey analysis: each user's full event sequence
    (time-ordered, event_id tie-break) collapsed to a path string, then
    pattern-matched for the view→click→purchase funnel SUBSEQUENCE —
    the regex-over-paths idiom behind behavioral segmentation
    (MATCH_RECOGNIZE's common case, as one aggregation + one rlike).

    Shape: one groupBy(user) with an in-aggregate array sort — the path
    never becomes rows again; per-user work is bounded by that user's
    event count. First/last event ride the same sorted array."""
    ev = read_parquet_table(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(
            F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
        )
    )
    g = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), seq.alias("__seq")
    )
    types = F.transform(F.col("__seq"), lambda x: x["event_type"])
    return g.select(
        "user_id",
        "n_events",
        F.element_at(types, 1).alias("first_event"),
        F.element_at(types, -1).alias("last_event"),
        F.concat_ws(">", types).rlike("view.*click.*purchase").alias(
            "converted"
        ),
    )


PATH_PATTERN_CONVERSION_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       (min({'t': ts, 'e': event_id, 'v': event_type})).v AS first_event,
       (max({'t': ts, 'e': event_id, 'v': event_type})).v AS last_event,
       regexp_matches(string_agg(event_type, '>' ORDER BY ts, event_id),
                      'view.*click.*purchase') AS converted
FROM events GROUP BY user_id
"""


# --- degree assortativity over the kNN graph --------------------------------


def degree_assortativity_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected kNN graph (Newman 2002):
    the Pearson correlation between the degrees at the two ends of
    every edge — positive means hubs link to hubs (core-periphery
    embedding space), negative means hubs link to leaves (star-like
    neighborhoods), the one-number structure diagnostic read before
    trusting kNN-graph clustering.

    Shape: the proven knn_graph edge list → per-node degree agg → two
    degree joins → ONE moment aggregation (n, Σx, Σx², Σxy in exact
    decimals over both edge orientations, so Σx = Σy by construction)
    and the corr_matrix fixed IEEE chain, rounded to 6. All integer
    until the final expression."""
    from data_integration_case_study_spark.operators import cache, similarity

    e = read_parquet_table(spark, sf_dir, "embeddings")
    und = cache.track(
        similarity.knn_graph(e, k=3)
        .select(
            F.least("src_id", "nbr_id").alias("a"),
            F.greatest("src_id", "nbr_id").alias("b"),
        )
        .distinct()
    )
    sym = und.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        und.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    edges = sym.join(
        deg.select(F.col("s").alias("s"), F.col("deg").alias("deg_s")), "s"
    ).join(
        deg.select(F.col("s").alias("d"), F.col("deg").alias("deg_d")), "d"
    )

    x, y = F.col("deg_s"), F.col("deg_d")
    m = edges.agg(
        F.count(F.lit(1)).alias("n_edges_directed"),
        dsum(x, 0).alias("__sx"),
        dsum(y, 0).alias("__sy"),
        dsum(x * x, 0).alias("__qx"),
        dsum(y * y, 0).alias("__qy"),
        dsum(x * y, 0).alias("__xy"),
    )
    n = F.col("n_edges_directed").cast("double")
    return m.select(
        "n_edges_directed",
        (F.col("__sx") / n).alias("mean_degree"),
        F.round(
            (n * F.col("__xy") - F.col("__sx") * F.col("__sy"))
            / F.sqrt(
                (n * F.col("__qx") - F.col("__sx") * F.col("__sx"))
                * (n * F.col("__qy") - F.col("__sy") * F.col("__sy"))
            ),
            6,
        ).alias("assortativity"),
    )


def _degree_assortativity_sql() -> str:
    from data_integration_case_study_spark.plans.vector_queries import (
        KNN_GRAPH_SQL,
    )

    return f"""
WITH g AS ({KNN_GRAPH_SQL}),
und AS (
  SELECT DISTINCT least(src_id, nbr_id) AS a, greatest(src_id, nbr_id) AS b
  FROM g
),
sym AS (SELECT a AS s, b AS d FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT s, COUNT(*) AS deg FROM sym GROUP BY 1),
edges AS (
  SELECT ds.deg AS deg_s, dd.deg AS deg_d
  FROM sym e
  JOIN deg ds ON ds.s = e.s
  JOIN deg dd ON dd.s = e.d
),
m AS (
  SELECT COUNT(*) AS n_edges_directed,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql('deg_s', 0)} AS sx,
         {dsum_sql('deg_d', 0)} AS sy,
         {dsum_sql('deg_s * deg_s', 0)} AS qx,
         {dsum_sql('deg_d * deg_d', 0)} AS qy,
         {dsum_sql('deg_s * deg_d', 0)} AS xy
  FROM edges
)
SELECT n_edges_directed,
       sx / n AS mean_degree,
       round((n * xy - sx * sy)
             / sqrt((n * qx - sx * sx) * (n * qy - sy * sy)), 6)
         AS assortativity
FROM m
"""


# --- changepoint detection (binary segmentation scan) ----------------------


def changepoint_scan_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint scan over the daily-revenue series: for every
    candidate split day t, the between-segment variance-reduction
    statistic n1*n2/N * (mean_left - mean_right)^2 — the inner step of
    binary segmentation (Scott & Knott; the CUSUM-family screen a
    monitoring pipeline runs before alerting on a level shift). The
    argmax day is flagged ``is_best``.

    Shape: facts collapse to days first, then ONE cumulative window
    over the DAILY aggregate gives every split's left-sum in a single
    pass — the scan is O(days), not O(days^2). All sums stay in exact
    integer cents (decimal); the statistic unfolds per row via the
    identity diff = s1*n2 - s2*n1 (so no mean is ever subtracted in
    floats), with ONE double division at the end. Deterministic under
    any partitioning; the recursive CUSUM (S_t = max(0, ...)) is
    deliberately avoided — it serializes, this scan parallelizes."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("decimal(38,0)")
            .alias("__c"),
        )
        .groupBy("day")
        .agg(F.sum("__c").alias("cents"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__s")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        daily.select(
            "day",
            F.row_number().over(Window.orderBy("day")).alias("day_index"),
            F.sum("cents").over(wcum).alias("__s1"),
        )
        .crossJoin(F.broadcast(tot))
        .filter(F.col("day_index") < F.col("__n"))
    )
    n1 = F.col("day_index").cast("long")
    n2 = (F.col("__n") - F.col("day_index")).cast("long")
    # diff stays EXACT in decimal(31,0); the square happens in double
    # (diff converts correctly-rounded) so no 38-digit cap limits SF —
    # a decimal(19,0) square bound would NULL out around SF ~100
    diff_d = (
        F.col("__s1").cast("decimal(25,0)") * n2.cast("decimal(6,0)")
        - (F.col("__s") - F.col("__s1")).cast("decimal(25,0)")
        * n1.cast("decimal(6,0)")
    ).cast("double")
    scored = cum.select(
        "day",
        "day_index",
        n1.alias("n_left"),
        n2.alias("n_right"),
        (F.col("__s1").cast("double") / n1.cast("double") / F.lit(100.0)).alias(
            "mean_left"
        ),
        (
            (F.col("__s") - F.col("__s1")).cast("double")
            / n2.cast("double")
            / F.lit(100.0)
        ).alias("mean_right"),
        (
            diff_d * diff_d
            / (n1 * n2 * F.col("__n").cast("long")).cast("double")
        ).alias("stat"),
    )
    wbest = Window.orderBy(F.desc("stat"), "day")
    return scored.select(
        "*", (F.row_number().over(wbest) == 1).alias("is_best")
    )


CHANGEPOINT_SCAN_DAILY_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0))) AS cents
  FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily),
cum AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS day_index,
         SUM(cents) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s1,
         n, s
  FROM daily, tot
),
scored AS (
  SELECT day, day_index,
         day_index AS n_left,
         n - day_index AS n_right,
         CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
           / CAST(day_index AS DOUBLE) / 100.0 AS mean_left,
         CAST(CAST(s - s1 AS VARCHAR) AS DOUBLE)
           / CAST(n - day_index AS DOUBLE) / 100.0 AS mean_right,
         CAST(CAST(CAST(s1 AS DECIMAL(25,0)) * CAST(n - day_index AS DECIMAL(6,0))
                   - CAST(s - s1 AS DECIMAL(25,0)) * CAST(day_index AS DECIMAL(6,0))
                   AS VARCHAR) AS DOUBLE)
         * CAST(CAST(CAST(s1 AS DECIMAL(25,0)) * CAST(n - day_index AS DECIMAL(6,0))
                     - CAST(s - s1 AS DECIMAL(25,0)) * CAST(day_index AS DECIMAL(6,0))
                     AS VARCHAR) AS DOUBLE)
           / CAST(day_index * (n - day_index) * n AS DOUBLE) AS stat
  FROM cum
  WHERE day_index < n
)
SELECT *, (row_number() OVER (ORDER BY stat DESC, day) = 1) AS is_best
FROM scored
"""


# --- seasonal-naive forecast backtest ---------------------------------------


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict each day with
    the value 7 calendar days earlier) over daily revenue: MAE, RMSE,
    MAPE and sMAPE — the accuracy floor every real forecasting model
    must beat, and the error-metric pass itself (the part analysts
    actually consume).

    Shape: facts collapse to days, then ONE calendar self-join
    (f.day + 7 = a.day — calendar days, not row lags, so order gaps
    don't misalign the season) and one global aggregate. Error sums
    stay in exact integer cents; the per-day ratio metrics (MAPE,
    sMAPE) are IEEE divisions of EXACT doubles (daily cents < 2^53)
    snapped to the 2^-40 grid before the order-independent decimal
    mean — the repo's standard determinism route for mean-of-ratios."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("decimal(38,0)")
            .alias("__c"),
        )
        .groupBy("day")
        .agg(F.sum("__c").alias("cents"))
    )
    fcast = daily.select(
        F.col("day").alias("fday"), F.col("cents").alias("fcents")
    )
    j = daily.join(fcast, F.date_add(F.col("fday"), 7) == F.col("day"))
    a_d = F.col("cents").cast("double")
    f_d = F.col("fcents").cast("double")
    abs_err = F.abs(a_d - f_d)
    grid = F.lit(float(1 << 40))
    ape = F.floor(abs_err / a_d * grid + F.lit(0.5)).cast("decimal(38,0)")
    sape = F.floor(
        F.lit(2.0) * abs_err / (a_d + f_d) * grid + F.lit(0.5)
    ).cast("decimal(38,0)")
    err = (F.col("cents") - F.col("fcents")).cast("decimal(19,0)")
    return j.agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum(F.abs(err)).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(100.0)
        ).alias("mae"),
        (
            F.sqrt(
                F.sum(err * err).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            / F.lit(100.0)
        ).alias("rmse"),
        (
            F.sum(ape).cast("double")
            / F.count(F.lit(1)).cast("double")
            / grid
        ).alias("mape"),
        (
            F.sum(sape).cast("double")
            / F.count(F.lit(1)).cast("double")
            / grid
        ).alias("smape"),
    )


SEASONAL_NAIVE_BACKTEST_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0))) AS cents
  FROM orders GROUP BY 1
),
j AS (
  SELECT a.cents AS cents, f.cents AS fcents,
         CAST(CAST(a.cents AS VARCHAR) AS DOUBLE) AS a_d,
         CAST(CAST(f.cents AS VARCHAR) AS DOUBLE) AS f_d
  FROM daily a JOIN daily f ON f.day + 7 = a.day
)
SELECT COUNT(*) AS n_days,
       CAST(CAST(SUM(abs(CAST(cents - fcents AS DECIMAL(19,0)))) AS VARCHAR)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS mae,
       sqrt(CAST(CAST(SUM(CAST(cents - fcents AS DECIMAL(19,0))
                          * CAST(cents - fcents AS DECIMAL(19,0))) AS VARCHAR)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 100.0 AS rmse,
       CAST(CAST(SUM(CAST(floor(abs(a_d - f_d) / a_d * 1099511627776.0 + 0.5)
                          AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) / 1099511627776.0 AS mape,
       CAST(CAST(SUM(CAST(floor(2.0 * abs(a_d - f_d) / (a_d + f_d)
                                * 1099511627776.0 + 0.5)
                          AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) / 1099511627776.0 AS smape
FROM j
"""


# --- bigram collocations (PMI / lift) ---------------------------------------


def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: for every adjacent word pair seen >= 5 times,
    the association lift P(ab) / (P(a)P(b)) and its log (PMI) — the
    statistic that separates true multiword units from chance
    adjacency (phrase detection for tokenizer/vocab curation; the
    word2phrase pre-pass).

    Shape: two explode+count aggregations (unigrams, adjacent pairs)
    over the corpus, two joins of the PAIR table against the unigram
    table (vocabulary-sized — orders of magnitude below the corpus;
    AQE broadcasts it), and 1-row totals broadcast. The lift is a
    fixed IEEE chain over exactly-converted integer counts (exact
    below 2^53 — a decimal triple-product would overflow 38 digits at
    100 TB token counts); PMI = ln(lift) rounded to 6 (the repo's
    libm tolerance discipline)."""
    from data_integration_case_study_spark.functions import text as T

    d = read_parquet_table(spark, sf_dir, "documents")
    toks = d.select(T.tokenize(F.col("text")).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_struct = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.element_at(F.col("t"), i).alias("w1"),
                F.element_at(F.col("t"), i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        toks.select(F.explode(pair_struct).alias("bg"))
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    totals = pairs.agg(F.sum("pair_count").alias("__b")).crossJoin(
        F.broadcast(uni.agg(F.sum("cnt").alias("__u")))
    )
    ua = uni.select(F.col("token").alias("w1"), F.col("cnt").alias("w1_count"))
    ub = uni.select(F.col("token").alias("w2"), F.col("cnt").alias("w2_count"))
    # counts convert exactly to double below 2^53 (~9e15 tokens — beyond
    # any single corpus), so the fixed chain below never overflows the
    # way a decimal triple-product would at 100 TB token counts
    u_d = F.col("__u").cast("double")
    lift = (
        F.col("pair_count").cast("double")
        * (u_d / F.col("w1_count").cast("double"))
        * (u_d / F.col("w2_count").cast("double"))
        / F.col("__b").cast("double")
    )
    return (
        pairs.filter(F.col("pair_count") >= 5)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "pair_count",
            "w1_count",
            "w2_count",
            lift.alias("lift"),
            F.round(F.log(lift), 6).alias("pmi"),
        )
    )


BIGRAM_COLLOCATIONS_SQL = """
WITH toks AS (
  SELECT list_filter(string_split(trim(text), ' '), t -> t <> '') AS t
  FROM documents
),
uni AS (
  SELECT u AS token, COUNT(*) AS cnt
  FROM (SELECT unnest(t) AS u FROM toks) GROUP BY 1
),
pairs AS (
  SELECT w1, w2, COUNT(*) AS pair_count FROM (
    SELECT t[i] AS w1, t[i+1] AS w2
    FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
          FROM toks)
  ) GROUP BY 1, 2
),
tot AS (
  SELECT (SELECT SUM(pair_count) FROM pairs) AS b,
         (SELECT SUM(cnt) FROM uni) AS u
)
SELECT p.w1, p.w2, p.pair_count,
       ua.cnt AS w1_count, ub.cnt AS w2_count,
       CAST(p.pair_count AS DOUBLE)
         * (CAST(t.u AS DOUBLE) / CAST(ua.cnt AS DOUBLE))
         * (CAST(t.u AS DOUBLE) / CAST(ub.cnt AS DOUBLE))
         / CAST(t.b AS DOUBLE)
         AS lift,
       round(ln(
         CAST(p.pair_count AS DOUBLE)
           * (CAST(t.u AS DOUBLE) / CAST(ua.cnt AS DOUBLE))
           * (CAST(t.u AS DOUBLE) / CAST(ub.cnt AS DOUBLE))
           / CAST(t.b AS DOUBLE)
       ), 6) AS pmi
FROM pairs p
JOIN uni ua ON ua.token = p.w1
JOIN uni ub ON ub.token = p.w2
CROSS JOIN tot t
WHERE p.pair_count >= 5
"""


def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (operators/graph.kcore, 12
    fixed peel rounds): parts as nodes, an edge when two parts share
    >= 2 order baskets; repeatedly peeling degree<3 nodes leaves the
    dense sub-market interior — the cohesive product communities that
    survive after incidental one-off co-occurrences and their cascade
    are stripped. The density complement of the graph suite:
    components find WHO is connected, PageRank ranks centrality, the
    k-core keeps only cohesive regions. Output: surviving parts with
    their in-core degree.

    The co>=2 graph is the right substrate because its degrees are
    heavy-tailed (the peel cascades ~9 rounds deep at sf0.01 and
    removes over half the nodes) — the kNN graph's near-regular
    degrees make every k-core all-or-nothing. 12 rounds reach the
    fixpoint at the driver SF with margin (a 13th round is a no-op,
    asserted in tests); the oracle unrolls the identical 12 peels, so
    a green row proves every intermediate degree cut. Rounds are
    FIXED, not convergence-probed — if the cascade were deeper both
    engines would return the same partial peel, and the fixpoint test
    is what certifies the parametrization. (At sf0.1 the co>=2 graph
    is RELATIVELY sparser — 20k parts share the same order count — and
    its 3-core is legitimately empty; the bench still pays the full
    cascade, and the driver's sf0.01 row checks the non-trivial peel.)"""
    from data_integration_case_study_spark.operators.graph import kcore

    li = read_parquet_table(spark, sf_dir, "lineitem")
    co = copurchase_pairs(li, 2)
    return kcore(co, k=3, rounds=12, src="pa", dst="pb").select(
        F.col("id").alias("part"), "degree"
    )


def _kcore_round_sql(prev: str, out: str, k: int) -> str:
    # AS MATERIALIZED: each round CTE is referenced twice (degree cut +
    # next round) — without it DuckDB's inlining doubles the plan per
    # round, 2^rounds copies of the base-graph scan ("too many open
    # files" long before it finishes)
    return f"""k_{out} AS MATERIALIZED (
  SELECT a FROM (SELECT a, COUNT(*) AS c FROM {prev} GROUP BY a)
  WHERE c >= {k}
),
{out} AS MATERIALIZED (
  SELECT g.a, g.b FROM {prev} g
  JOIN k_{out} x ON g.a = x.a
  JOIN k_{out} y ON g.b = y.a
)"""


def _kcore_sql(k: int = 3, rounds: int = 12) -> str:
    chain = ",\n".join(
        _kcore_round_sql(f"g{i}", f"g{i + 1}", k) for i in range(rounds)
    )
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
co AS (
  SELECT a.pk AS pa, b.pk AS pb
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
g0 AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT pa AS a, pb AS b FROM co UNION ALL SELECT pb, pa FROM co
  )
),
{chain}
SELECT a AS part, COUNT(*) AS degree FROM g{rounds} GROUP BY a
"""


# --- rank-2 ALS matrix factorization -----------------------------------------

_ALS_G = 1 << 20  # factor grid: values are integers / 2^20

# The closed-form ridge 2x2 solve as SHARED SQL text (drives Spark
# F.expr and the DuckDB CTE): Gram/rhs sums arrive as exact integers on
# the 2^20 grid; dividing by the power-of-two scales (2^40 for Gram,
# 2^20 for rhs) is EXACT in binary, so a,b,c,p,q are dyadic-exact
# doubles, the solve is one fixed IEEE chain, and the result snaps back
# to the integer grid with floor(x*2^20 + 1/2).
_ALS_MID = [
    ("al", "CAST(gA AS DOUBLE) / 1099511627776e0 + 0.1e0"),
    ("bl", "CAST(gB AS DOUBLE) / 1099511627776e0"),
    ("cl", "CAST(gC AS DOUBLE) / 1099511627776e0 + 0.1e0"),
    ("pl", "CAST(gP AS DOUBLE) / 1048576e0"),
    ("ql", "CAST(gQ AS DOUBLE) / 1048576e0"),
]
_ALS_F1 = (
    "CAST(floor((cl * pl - bl * ql) / (al * cl - bl * bl) * 1048576e0"
    " + 0.5e0) AS BIGINT)"
)
_ALS_F2 = (
    "CAST(floor((al * ql - bl * pl) / (al * cl - bl * bl) * 1048576e0"
    " + 0.5e0) AS BIGINT)"
)


def als_rank2_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-2 ALS matrix-factorization TRAINING over the
    customer x part purchase-count matrix — the collaborative-filtering
    model item_item_cosine only approximates by neighborhood, trained
    in-dataflow like kmeans_centroids (Lloyd's), fs_em_fit (EM),
    bpe_train_merges (discrete merges), and logreg_quality_irls
    (Newton): three unrolled alternating half-steps (solve U | V0,
    solve V | U1, solve U | V1), then the reconstruction RMSE as the
    one-row training report.

    Determinism — the 2^20 binary-grid discipline (the repo's portable
    snap): factors live as scaled INTEGERS, so every Gram/rhs
    accumulation is an exact decimal sum (order-independent, map-side
    combinable); the per-entity 2x2 ridge solve (lambda = 0.1) divides
    by power-of-two scales — exact in binary — and runs one fixed IEEE
    chain before snapping back to the grid; the final error terms are
    exact integers on the 2^40 grid and their squares stage through
    (23,0)x(15,0) decimal products. The SAME solve text drives Spark
    F.expr and the oracle CTEs, so the engines cannot drift.

    Scale shape: each half-step is ONE join of the ratings onto the
    factor table + ONE groupBy with constant per-group state — the
    classic distributed-ALS dataflow; no driver loop, the whole train
    is one lazy DAG."""
    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.count(F.lit(1)).alias("r"))
    )
    from data_integration_case_study_spark.operators import cache

    ratings = cache.track(ratings)
    g = _ALS_G
    v0 = ratings.select("i").distinct().select(
        "i",
        F.lit(g).cast("long").alias("f1"),
        F.pmod(
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat(
                            F.lit("als-v1:"), F.col("i").cast("string")
                        ),
                        256,
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(g),
        ).alias("f2"),
    )

    def half_step(factors: DataFrame, join_key: str, solve_key: str):
        """Solve `solve_key`'s factors given `factors` keyed by
        `join_key`: one ratings join + one groupBy + the shared chain."""
        agg = ratings.join(factors, join_key).groupBy(solve_key).agg(
            F.sum((F.col("f1") * F.col("f1")).cast("decimal(38,0)")).alias("gA"),
            F.sum((F.col("f1") * F.col("f2")).cast("decimal(38,0)")).alias("gB"),
            F.sum((F.col("f2") * F.col("f2")).cast("decimal(38,0)")).alias("gC"),
            F.sum((F.col("r") * F.col("f1")).cast("decimal(38,0)")).alias("gP"),
            F.sum((F.col("r") * F.col("f2")).cast("decimal(38,0)")).alias("gQ"),
        )
        mid = agg.selectExpr(
            solve_key, *[f"{e} AS {n}" for n, e in _ALS_MID]
        )
        return mid.selectExpr(
            solve_key, f"{_ALS_F1} AS f1", f"{_ALS_F2} AS f2"
        )

    u1 = half_step(v0, "i", "u")
    v1 = half_step(u1, "u", "i")
    u2 = half_step(v1, "i", "u")
    # reconstruction error on the 2^40 integer grid: e = r*2^40 - u.v
    uf = u2.select("u", F.col("f1").alias("u1"), F.col("f2").alias("u2"))
    vf = v1.select("i", F.col("f1").alias("v1"), F.col("f2").alias("v2"))
    scored = ratings.join(uf, "u").join(vf, "i")
    e = (
        F.col("r") * F.lit(1 << 40)
        - (F.col("u1") * F.col("v1") + F.col("u2") * F.col("v2"))
    )
    agg = scored.select(e.alias("e"), "u", "i").agg(
        F.count(F.lit(1)).alias("n_ratings"),
        F.count_distinct(F.col("u")).alias("n_users"),
        F.count_distinct(F.col("i")).alias("n_items"),
        F.sum(
            F.col("e").cast("decimal(23,0)") * F.col("e").cast("decimal(15,0)")
        ).alias("sse2"),
    )
    return agg.selectExpr(
        "n_users",
        "n_items",
        "n_ratings",
        "sqrt(CAST(CAST(sse2 AS STRING) AS DOUBLE)"
        " / CAST(n_ratings AS DOUBLE))"
        " / 1099511627776e0 AS rmse",
    )


def _als_sql() -> str:
    mid = ", ".join(f"{e} AS {n}" for n, e in _ALS_MID)
    gram = """
  SELECT {key},
         SUM(CAST(f1 * f1 AS DECIMAL(38,0))) AS gA,
         SUM(CAST(f1 * f2 AS DECIMAL(38,0))) AS gB,
         SUM(CAST(f2 * f2 AS DECIMAL(38,0))) AS gC,
         SUM(CAST(r * f1 AS DECIMAL(38,0))) AS gP,
         SUM(CAST(r * f2 AS DECIMAL(38,0))) AS gQ
  FROM ratings JOIN {fac} ON ratings.{jk} = {fac}.{jk}
  GROUP BY {key}
"""
    return f"""
WITH ratings AS (
  SELECT o_custkey AS u, l_partkey AS i, COUNT(*) AS r
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
v0 AS (
  SELECT i, CAST({_ALS_G} AS BIGINT) AS f1,
         ('0x' || substr(sha256('als-v1:' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
           % {_ALS_G} AS f2
  FROM (SELECT DISTINCT i FROM ratings)
),
ua AS ({gram.format(key="u", fac="v0", jk="i")}),
um AS (SELECT u, {mid} FROM ua),
u1 AS (SELECT u, {_ALS_F1} AS f1, {_ALS_F2} AS f2 FROM um),
va AS ({gram.format(key="i", fac="u1", jk="u")}),
vm AS (SELECT i, {mid} FROM va),
v1 AS (SELECT i, {_ALS_F1} AS f1, {_ALS_F2} AS f2 FROM vm),
ub AS ({gram.format(key="u", fac="v1", jk="i")}),
ubm AS (SELECT u, {mid} FROM ub),
u2 AS (SELECT u, {_ALS_F1} AS f1, {_ALS_F2} AS f2 FROM ubm),
scored AS (
  SELECT r.r, r.u, r.i,
         r.r * CAST({1 << 40} AS BIGINT)
           - (u2.f1 * v1.f1 + u2.f2 * v1.f2) AS e
  FROM ratings r JOIN u2 ON r.u = u2.u JOIN v1 ON r.i = v1.i
),
agg AS (
  SELECT COUNT(*) AS n_ratings,
         COUNT(DISTINCT u) AS n_users,
         COUNT(DISTINCT i) AS n_items,
         SUM(CAST(e AS DECIMAL(23,0)) * CAST(e AS DECIMAL(15,0))) AS sse2
  FROM scored
)
SELECT n_users, n_items, n_ratings,
       sqrt(CAST(CAST(sse2 AS VARCHAR) AS DOUBLE)
            / CAST(n_ratings AS DOUBLE)) / 1099511627776e0 AS rmse
FROM agg
"""


QUERIES = {
    "als_rank2_copurchase": als_rank2_copurchase,
    "rfm_segments": rfm_segments,
    "mann_whitney_events": mann_whitney_events,
    "trend_daily_revenue": trend_daily_revenue,
    "corr_matrix_lineitem": corr_matrix_lineitem,
    "benford_price_audit": benford_price_audit,
    "path_pattern_conversion": path_pattern_conversion,
    "chi2_priority_status": chi2_priority_status,
    "welch_t_test_events": welch_t_test_events,
    "ewma_daily_revenue": ewma_daily_revenue,
    "seasonal_anomaly_daily": seasonal_anomaly_daily,
    "key_skew_report": key_skew_report,
    "basket_association_rules": basket_association_rules,
    "bloom_filter_pruning": bloom_filter_pruning,
    "winnowing_doc_fingerprints": winnowing_doc_fingerprints,
    "winnowing_overlap_pairs": winnowing_overlap_pairs,
    "event_precedence_counts": event_precedence_counts,
    "link_prediction_knn": link_prediction_knn,
    "top_terms_per_doc": top_terms_per_doc,
    "changepoint_scan_daily": changepoint_scan_daily,
    "seasonal_naive_backtest": seasonal_naive_backtest,
    "bigram_collocations": bigram_collocations,
    "degree_assortativity_knn": degree_assortativity_knn,
    "kcore_copurchase": kcore_copurchase,
}


def _link_prediction_sql() -> str:
    from data_integration_case_study_spark.plans.vector_queries import (
        KNN_GRAPH_SQL,
    )

    return f"""
WITH g AS ({KNN_GRAPH_SQL}),
und AS (
  SELECT DISTINCT least(src_id, nbr_id) AS a, greatest(src_id, nbr_id) AS b
  FROM g
),
sym AS (SELECT a AS s, b AS d FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT s, COUNT(*) AS deg FROM sym GROUP BY 1),
cn AS (
  SELECT e1.s AS a, e2.d AS b, COUNT(*) AS common_neighbors
  FROM sym e1 JOIN sym e2 ON e1.d = e2.s AND e1.s < e2.d
  GROUP BY 1, 2
),
cand AS (
  SELECT c.* FROM cn c
  WHERE common_neighbors >= 2
    AND NOT EXISTS (SELECT 1 FROM und u WHERE u.a = c.a AND u.b = c.b)
)
SELECT c.a AS id_a, c.b AS id_b, common_neighbors,
       da.deg AS deg_a, db.deg AS deg_b,
       CAST(common_neighbors AS DOUBLE)
         / CAST(da.deg + db.deg - common_neighbors AS DOUBLE) AS jaccard
FROM cand c
JOIN deg da ON da.s = c.a
JOIN deg db ON db.s = c.b
"""


def _top_terms_sql() -> str:
    from data_integration_case_study_spark.plans.text_queries import TF_IDF_SQL

    return f"""
WITH t AS ({TF_IDF_SQL})
SELECT doc_id, token, tf_idf, CAST(rank AS INT) AS rank FROM (
  SELECT doc_id, token, tf_idf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf_idf DESC, token) AS rank
  FROM t
) WHERE rank <= 3
"""


ORACLES = {
    "als_rank2_copurchase": _als_sql(),
    "rfm_segments": RFM_SEGMENTS_SQL,
    "mann_whitney_events": MANN_WHITNEY_EVENTS_SQL,
    "trend_daily_revenue": TREND_DAILY_REVENUE_SQL,
    "corr_matrix_lineitem": CORR_MATRIX_LINEITEM_SQL,
    "benford_price_audit": BENFORD_PRICE_AUDIT_SQL,
    "path_pattern_conversion": PATH_PATTERN_CONVERSION_SQL,
    "chi2_priority_status": CHI2_PRIORITY_STATUS_SQL,
    "welch_t_test_events": WELCH_T_TEST_EVENTS_SQL,
    "ewma_daily_revenue": EWMA_DAILY_REVENUE_SQL,
    "seasonal_anomaly_daily": SEASONAL_ANOMALY_DAILY_SQL,
    "key_skew_report": KEY_SKEW_REPORT_SQL,
    "basket_association_rules": BASKET_ASSOCIATION_RULES_SQL,
    "bloom_filter_pruning": BLOOM_FILTER_PRUNING_SQL,
    "winnowing_doc_fingerprints": WINNOWING_DOC_FINGERPRINTS_SQL,
    "winnowing_overlap_pairs": _winnowing_overlap_sql(),
    "event_precedence_counts": EVENT_PRECEDENCE_COUNTS_SQL,
    "link_prediction_knn": _link_prediction_sql(),
    "top_terms_per_doc": _top_terms_sql(),
    "changepoint_scan_daily": CHANGEPOINT_SCAN_DAILY_SQL,
    "seasonal_naive_backtest": SEASONAL_NAIVE_BACKTEST_SQL,
    "bigram_collocations": BIGRAM_COLLOCATIONS_SQL,
    "degree_assortativity_knn": _degree_assortativity_sql(),
    "kcore_copurchase": _kcore_sql(),
}

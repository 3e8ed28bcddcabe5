"""Statistics-continuation batch (round 4, late): survival analysis,
autocorrelation, distributed bootstrap, collaborative filtering, entropy
profiling, and mergeable-sketch SET algebra.

Provenance: the reference's analysis surface is eager pandas profiling
(data_analysis.py); these are the next analyses an integrated warehouse
feeds — each re-expressed as bounded-shuffle Spark dataflow with a DuckDB
oracle twin.

Determinism discipline (repo-wide, see plans/mining_queries.py): exact
integer/decimal aggregation wherever order could matter, fixed IEEE
chains from exactly-converted integers, ``round(ln(x), 9)``-through-
decimal for transcendental accumulation (the libm-tolerance convention
set by bigram_collocations' PMI), and explicit tie-breaks under every
window.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.numeric import dsum, dsum_sql
from data_integration_case_study_spark.functions.text import hash60, hash60_sql
from data_integration_case_study_spark.operators.dedup import (
    _MERSENNE,
    _affine_params,
)
from data_integration_case_study_spark.operators.sketches import AMS_SEED
from data_integration_case_study_spark.sources.readers import read_parquet_table

# ln(2) as the exact double literal both engines parse identically; used
# to convert nat-entropy to bits in a fixed IEEE chain.
_LN2 = 0.6931471805599453


# --- Kaplan-Meier survival curve --------------------------------------------


def survival_km_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator of signup->purchase
    conversion time: for every user, hours from their FIRST signup to
    their FIRST subsequent purchase; users who never purchase are
    right-censored at the corpus max timestamp. Output: one row per
    event time (an hour bucket where >= 1 conversion happened) with the
    at-risk count, event count, and the survival probability S(t) —
    the churn/time-to-convert curve product teams read.

    Shape: two per-user min-aggregations over the event log, one
    per-duration aggregation (rows = distinct hour buckets), then
    cumulative windows over that tiny grid — fact-table work is two
    groupBys, everything after is bounded by the duration domain.

    Determinism: at-risk/event counts are exact integers from windows;
    S(t) = exp(cumsum(ln((n-d)/n))) accumulates per-step logs rounded
    to 9 through decimal (order-independent) and rounds the final
    survival to 6 (the repo's libm tolerance discipline)."""
    e = read_parquet_table(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    mx = e.agg(F.max("ts").alias("__mx"))
    per_user = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.floor(
                (
                    F.unix_timestamp(F.coalesce("purchase_ts", "__mx"))
                    - F.unix_timestamp("signup_ts")
                )
                / F.lit(3600)
            )
            .cast("long")
            .alias("duration_h"),
            F.col("purchase_ts").isNotNull().cast("int").alias("observed"),
        )
    )
    grid = per_user.groupBy("duration_h").agg(
        F.sum("observed").alias("n_events"),
        F.count(F.lit(1)).alias("n_leaving"),
    )
    w = Window.orderBy("duration_h").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("duration_h").rowsBetween(Window.unboundedPreceding, 0)
    total = per_user.agg(F.count(F.lit(1)).alias("__n"))
    # at-risk at t counts everyone still in the study when t's events
    # fire: leavers strictly before t are gone, same-hour censored users
    # still count (the standard KM events-before-censoring convention)
    stepped = (
        grid.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            F.col("__n") - F.coalesce(F.sum("n_leaving").over(w), F.lit(0)),
        )
        # n_at_risk == n_events can only happen at the LAST bucket (a
        # mid-series total wipeout would leave nobody at risk later) —
        # survival is exactly 0 there; guard keeps ln away from 0
        .withColumn(
            "__step",
            F.when(
                F.col("n_at_risk") > F.col("n_events"),
                F.round(
                    F.log(
                        (F.col("n_at_risk") - F.col("n_events")).cast("double")
                        / F.col("n_at_risk").cast("double")
                    ),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(28,9)"),
        )
        .withColumn("__logsum", F.sum("__step").over(wcum))
    )
    return (
        stepped.filter(F.col("n_events") > 0)
        .select(
            "duration_h",
            "n_at_risk",
            "n_events",
            F.when(F.col("n_at_risk") == F.col("n_events"), F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("__logsum").cast("double")), 6))
            .alias("survival"),
        )
        .orderBy("duration_h")
    )


SURVIVAL_KM_CONVERSION_SQL = """
WITH su AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
pu AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
  GROUP BY e.user_id
),
mx AS (SELECT MAX(ts) AS mxts FROM events),
per_user AS (
  SELECT su.user_id,
         CAST(floor(date_diff('second', su.signup_ts,
                              COALESCE(pu.purchase_ts, mx.mxts)) / 3600.0)
              AS BIGINT) AS duration_h,
         CASE WHEN pu.purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN mx
),
grid AS (
  SELECT duration_h, SUM(observed) AS n_events, COUNT(*) AS n_leaving
  FROM per_user GROUP BY duration_h
),
at_risk AS (
  SELECT duration_h, n_events,
         (SELECT COUNT(*) FROM per_user)
           - COALESCE(SUM(n_leaving) OVER (ORDER BY duration_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM grid
),
stepped AS (
  SELECT duration_h, n_events, n_at_risk,
         SUM(CAST(CASE WHEN n_at_risk > n_events THEN round(ln(
               CAST(n_at_risk - n_events AS DOUBLE)
               / CAST(n_at_risk AS DOUBLE)
             ), 9) ELSE 0.0 END AS DECIMAL(28,9)))
           OVER (ORDER BY duration_h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS logsum
  FROM at_risk
)
SELECT duration_h, CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_events AS BIGINT) AS n_events,
       CASE WHEN n_at_risk = n_events THEN 0.0
            ELSE round(exp(CAST(logsum AS DOUBLE)), 6) END AS survival
FROM stepped
WHERE n_events > 0
ORDER BY duration_h
"""


# --- autocorrelation function -----------------------------------------------


def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily order-revenue series at lags 1..10 —
    the seasonality/memory diagnostic behind lag-feature selection and
    forecast-model choice (a weekly cycle shows as a lag-7 peak).

    Shape: ONE daily aggregation over the fact table; the series
    (thousands of rows) then self-joins on exact calendar-day offsets
    per lag — day-grid work, negligible beside the scan. Missing days
    simply contribute no pair at lags that would span them.

    Determinism: the series is exact integer cents; residuals are
    scaled integers n*x_t - s (no division, exact); lag products
    accumulate in DECIMAL(38,0) (order-independent, fits: |r| < 1e16
    even at 100x this revenue); the final ratio is one double division
    of correctly-rounded casts."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)"))
        .cast("long")
        .alias("cents")
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__s")
    )
    # residual fits DECIMAL(19,0) (|n*x - s| < 1e16 even at 100x this
    # revenue); 19+19 keeps the lag PRODUCT inside DuckDB's 38-digit
    # decimal cap — a 38x38 product would silently promote to double
    # there while Spark truncates precision, diverging the engines
    resid = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        (F.col("__n") * F.col("cents") - F.col("__s"))
        .cast("decimal(19,0)")
        .alias("r"),
    )
    denom = resid.agg(
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,0)").alias("__den")
    )
    lags = spark.range(1, 11).select(F.col("id").cast("int").alias("lag"))
    rb = resid.select(F.col("d").alias("d2"), F.col("r").alias("r2"))
    return (
        resid.crossJoin(F.broadcast(lags))
        .join(rb, F.expr("d2 = date_add(d, lag)"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("r") * F.col("r2")).cast("decimal(38,0)").alias("__num"),
        )
        .crossJoin(F.broadcast(denom))
        .select(
            "lag",
            "n_pairs",
            (F.col("__num").cast("double") / F.col("__den").cast("double")).alias(
                "acf"
            ),
        )
        .orderBy("lag")
    )


ACF_DAILY_REVENUE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily),
resid AS (
  SELECT d, CAST(t.n * cents - t.s AS DECIMAL(19,0)) AS r
  FROM daily CROSS JOIN tot t
),
den AS (SELECT SUM(r * r) AS den FROM resid),
lags AS (SELECT unnest(generate_series(1, 10)) AS lag)
SELECT CAST(l.lag AS INT) AS lag, COUNT(*) AS n_pairs,
       CAST(CAST(SUM(a.r * b.r) AS VARCHAR) AS DOUBLE)
         / CAST(CAST((SELECT den FROM den) AS VARCHAR) AS DOUBLE) AS acf
FROM resid a CROSS JOIN lags l
JOIN resid b ON b.d = a.d + CAST(l.lag AS INT)
GROUP BY l.lag
ORDER BY l.lag
"""


# --- Poisson bootstrap confidence interval ----------------------------------

# Poisson(1) CDF cut points scaled to the Mersenne hash space: a
# uniform draw u maps to resample weight w = #{thresholds <= u}.
# floor() of the exact-decimal CDF — identical integer literals in both
# engines.
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]
_POIS_THRESH = [math.floor(p * _MERSENNE) for p in _POIS_CDF]
_BOOT_R = 48
_BOOT_SEED = 271828


def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for mean order value: 48 resample replicas,
    each weighting every order by a Poisson(1) draw against fixed CDF
    thresholds — the standard single-pass distributed bootstrap
    (per-row independent weights, no O(n) resample shuffles), made
    fully deterministic by hash-derived draws. The CI is the
    2.5%/97.5% band of the replica means (ranks 2 and 47 of 48).

    Each row pays ONE sha256: replica r's uniform draw is the affine
    permutation (a_r*h + b_r) mod p of the single row hash — the same
    pairwise-independent family MinHash and count-min already rely on
    (a 48x per-row sha256, the first version, benched 13s at sf0.1;
    this one ~2s for the identical statistical contract).

    Shape: one explode of the fact rows by 48 replica ids (map-side),
    one 48-group aggregation with map-side combine, then a 48-row sort.
    Determinism: weights are integer CASE cuts on integer draws;
    replica sums are exact decimal; each mean is one double division;
    the rank selection is an integer window over 48 rows."""
    o = read_parquet_table(spark, sf_dir, "orders")
    reps = F.sequence(F.lit(0), F.lit(_BOOT_R - 1))
    params = _affine_params(_BOOT_R, _BOOT_SEED)
    arr_a = F.array(*[F.lit(a) for a, _ in params])
    arr_b = F.array(*[F.lit(b) for _, b in params])
    u = (
        F.element_at(arr_a, F.col("rep") + 1) * F.col("__h")
        + F.element_at(arr_b, F.col("rep") + 1)
    ) % F.lit(_MERSENNE)
    w = F.when(u < F.lit(_POIS_THRESH[0]), F.lit(0))
    for k in range(1, len(_POIS_THRESH)):
        w = w.when(u < F.lit(_POIS_THRESH[k]), F.lit(k))
    w = w.otherwise(F.lit(len(_POIS_THRESH)))
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    replica_means = (
        spread_to_parallelism(o.select("o_orderkey", "o_totalprice"))
        .select(
            "o_totalprice",
            (hash60(F.col("o_orderkey").cast("string")) % F.lit(_MERSENNE)).alias(
                "__h"
            ),
        )
        .select("o_totalprice", "__h", F.explode(reps).alias("rep"))
        .withColumn("w", w)
        .groupBy("rep")
        .agg(
            # (18,8) keeps the int*decimal product inside (29,8) — no
            # precision-loss rescaling on either engine
            F.sum(
                F.col("w") * F.col("o_totalprice").cast("decimal(18,8)")
            ).alias("__ws"),
            F.sum("w").alias("__wn"),
        )
        .select(
            "rep",
            (F.col("__ws").cast("double") / F.col("__wn").cast("double")).alias(
                "mean_r"
            ),
        )
    )
    ranked = replica_means.withColumn(
        "__rk", F.row_number().over(Window.orderBy("mean_r", "rep"))
    )
    band = ranked.agg(
        F.min(F.when(F.col("__rk") == 2, F.col("mean_r"))).alias("boot_lo"),
        F.min(F.when(F.col("__rk") == _BOOT_R - 1, F.col("mean_r"))).alias(
            "boot_hi"
        ),
    )
    point = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (dsum("o_totalprice") / F.count(F.lit(1))).alias("point_mean"),
    )
    return point.crossJoin(F.broadcast(band)).select(
        "n_orders",
        "point_mean",
        "boot_lo",
        "boot_hi",
        F.lit(_BOOT_R).alias("n_replicas"),
    )


def _bootstrap_sql() -> str:
    t = _POIS_THRESH
    params = _affine_params(_BOOT_R, _BOOT_SEED)
    la = "[" + ", ".join(str(a) for a, _ in params) + "]"
    lb = "[" + ", ".join(str(b) for _, b in params) + "]"
    cases = " ".join(
        f"WHEN u < {t[k]} THEN {k}" for k in range(len(t))
    )
    return f"""
WITH ex AS (
  SELECT o_totalprice,
         {hash60_sql("CAST(o_orderkey AS VARCHAR)")} % {_MERSENNE} AS h,
         unnest(generate_series(0, {_BOOT_R - 1})) AS rep
  FROM orders
),
hw AS (
  SELECT rep, o_totalprice,
         CASE {cases} ELSE {len(t)} END AS w
  FROM (
    SELECT rep, o_totalprice,
           (({la}[CAST(rep AS INT) + 1] * h + {lb}[CAST(rep AS INT) + 1])
            % {_MERSENNE}) AS u
    FROM ex
  )
),
means AS (
  SELECT rep,
         CAST(CAST(SUM(w * CAST(o_totalprice AS DECIMAL(18,8))) AS VARCHAR)
              AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_r
  FROM hw GROUP BY rep
),
ranked AS (
  SELECT mean_r, row_number() OVER (ORDER BY mean_r, rep) AS rk FROM means
),
band AS (
  SELECT MIN(CASE WHEN rk = 2 THEN mean_r END) AS boot_lo,
         MIN(CASE WHEN rk = {_BOOT_R - 1} THEN mean_r END) AS boot_hi
  FROM ranked
)
SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
       (SELECT {dsum_sql("o_totalprice")} / COUNT(*) FROM orders) AS point_mean,
       boot_lo, boot_hi, {_BOOT_R} AS n_replicas
FROM band
"""


# --- item-item collaborative filtering --------------------------------------


def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Also-bought ranking: cosine similarity between parts over the
    order-basket co-occurrence matrix (binary ratings), top-3 neighbors
    per part — the item-item collaborative filter behind "customers who
    bought X also bought Y".

    Shape: the pair stage is the SHARED co-occurrence build
    (plans/mining_queries.copurchase_pairs — one definition across the
    basket analyses): self-join ON ORDER KEY, so work is
    sum(basket_size^2) — basket-bounded (TPC-H baskets are <= 7 rows),
    corpus-linear, never all-pairs across items. Item counts join onto
    the pair table (item-domain-sized; AQE broadcasts). The per-item
    top-3 is one rank window partitioned by item.

    Determinism: co/item counts are exact integers; cosine =
    co / sqrt(na*nb) is one IEEE-exact sqrt (correctly rounded by
    spec in every engine) and one division from exactly-converted
    integers; the rank window breaks ties by neighbor key."""
    from data_integration_case_study_spark.plans.mining_queries import (
        copurchase_pairs,
    )

    li_raw = read_parquet_table(spark, sf_dir, "lineitem")
    li = li_raw.select("l_orderkey", "l_partkey").distinct()
    n_item = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    co = copurchase_pairs(li_raw, 2).withColumnRenamed("co", "co_count")
    sym = co.unionByName(
        co.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "co_count"
        )
    )
    scored = (
        sym.join(n_item.select(F.col("item").alias("pa"), F.col("n_orders").alias("na")), "pa")
        .join(n_item.select(F.col("item").alias("pb"), F.col("n_orders").alias("nb")), "pb")
        .select(
            F.col("pa").alias("item"),
            F.col("pb").alias("neighbor"),
            "co_count",
            (
                F.col("co_count").cast("double")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.desc("co_count"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("item", "neighbor", "co_count", "cosine", "rank")
    )


ITEM_ITEM_COSINE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
n_item AS (SELECT pk AS item, COUNT(*) AS n_orders FROM li GROUP BY 1),
co AS (
  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS co_count
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS (
  SELECT pa, pb, co_count FROM co
  UNION ALL SELECT pb, pa, co_count FROM co
),
scored AS (
  SELECT s.pa AS item, s.pb AS neighbor, s.co_count,
         CAST(s.co_count AS DOUBLE)
           / sqrt(CAST(na.n_orders * nb.n_orders AS DOUBLE)) AS cosine
  FROM sym s
  JOIN n_item na ON na.item = s.pa
  JOIN n_item nb ON nb.item = s.pb
)
SELECT item, neighbor, co_count, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY item
              ORDER BY cosine DESC, co_count DESC, neighbor) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --- categorical entropy census ---------------------------------------------

_ENTROPY_COLS = [
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
    ("lineitem", "l_returnflag"),
    ("customer", "c_mktsegment"),
    ("events", "event_type"),
    ("documents", "lang"),
    ("documents", "source"),
]


def entropy_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy census of the categorical columns across the
    star schema: rows, distinct values, entropy in bits, and normalized
    entropy (entropy / log2(k)) — the column-level information profile
    a DQ monitor tracks (a near-zero normalized entropy flags a
    degenerate column; a drop between snapshots flags upstream filter
    bugs). Extends the reference's nunique profiling (data_analysis.py)
    with the distribution-shape statistic.

    Shape: one count aggregation per column (each map-side combinable),
    everything after runs on category-domain-sized rows; the per-table
    scans share no shuffle. Determinism: entropy_nats = ln(n) -
    sum(c * round(ln(c), 9)) / n where the weighted sum accumulates in
    exact decimal; bits divides by the ln(2) double literal; both
    rounded to 6 at the end (libm tolerance discipline)."""
    outs = []
    for tbl, col in _ENTROPY_COLS:
        df = read_parquet_table(spark, sf_dir, tbl).filter(
            F.col(col).isNotNull()
        )
        counts = df.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        agg = counts.agg(
            F.sum("c").alias("__n"),
            F.count(F.lit(1)).alias("n_distinct"),
            # (18,0) x (19,9) -> (38,9): exact on both engines (a wider
            # product would rescale in Spark / promote in DuckDB)
            F.sum(
                (
                    F.col("c").cast("decimal(18,0)")
                    * F.round(F.log("c"), 9).cast("decimal(19,9)")
                )
            ).alias("__wsum"),
        )
        nats = F.round(F.log(F.col("__n").cast("double")), 9) - (
            F.col("__wsum").cast("double") / F.col("__n").cast("double")
        )
        bits = nats / F.lit(_LN2)
        outs.append(
            agg.select(
                F.lit(tbl).alias("tbl"),
                F.lit(col).alias("col"),
                F.col("__n").alias("n_rows"),
                "n_distinct",
                F.round(bits, 6).alias("entropy_bits"),
                F.when(
                    F.col("n_distinct") > 1,
                    F.round(
                        bits
                        / (
                            F.round(
                                F.log(F.col("n_distinct").cast("double")), 9
                            )
                            / F.lit(_LN2)
                        ),
                        6,
                    ),
                ).alias("norm_entropy"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _entropy_sql() -> str:
    parts = []
    for tbl, col in _ENTROPY_COLS:
        parts.append(f"""
SELECT '{tbl}' AS tbl, '{col}' AS col, CAST(n_rows AS BIGINT) AS n_rows,
       n_distinct,
       round((round(ln(CAST(n_rows AS DOUBLE)), 9)
              - CAST(CAST(wsum AS VARCHAR) AS DOUBLE) / CAST(n_rows AS DOUBLE))
             / {_LN2}, 6) AS entropy_bits,
       CASE WHEN n_distinct > 1 THEN
         round(((round(ln(CAST(n_rows AS DOUBLE)), 9)
                 - CAST(CAST(wsum AS VARCHAR) AS DOUBLE) / CAST(n_rows AS DOUBLE))
                / {_LN2})
               / (round(ln(CAST(n_distinct AS DOUBLE)), 9) / {_LN2}), 6)
       END AS norm_entropy
FROM (
  SELECT SUM(c) AS n_rows, COUNT(*) AS n_distinct,
         SUM(CAST(c AS DECIMAL(18,0))
             * CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(19,9))) AS wsum
  FROM (SELECT {col} AS v, COUNT(*) AS c FROM {tbl}
        WHERE {col} IS NOT NULL GROUP BY 1)
)""")
    return "\nUNION ALL\n".join(parts)


# --- KMV theta-sketch set operations ----------------------------------------

_KMV_K = 64
_KMV_M = float(1 << 60)


def kmv_set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on KMV (theta) sketches: estimate the distinct-user
    cardinality of click, purchase, their UNION and their INTERSECTION
    from two k=64 sketches alone — the audience-overlap question
    ("how many purchasers also clicked?") answered from mergeable
    per-segment summaries instead of a re-scan, which is the whole
    point of sketch warehousing at 100 TB (sketches union across
    days/shards; the raw log never re-joins).

    Estimators (Dasgupta et al., the DataSketches theta model):
    union = KMV estimate of the merged sketch; intersection counts the
    union-sketch-threshold-filtered hashes PRESENT IN BOTH sketches,
    scaled by M/theta; inclusion-exclusion est_a + est_b - est_union is
    reported as the cross-check column. Exact truths computed alongside
    (cheap here; at scale you'd drop them).

    Shape: one distinct-hash pass per side, k-row windows, then
    constant-size arithmetic. Determinism: hashes are hash60; every
    estimate is integer-derived with one double division."""
    e = read_parquet_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    hashed = (
        e.filter(F.col("user_id").isNotNull())
        .select(
            "event_type", hash60(F.col("user_id").cast("string")).alias("__h")
        )
        .dropDuplicates(["event_type", "__h"])
    )
    wk = Window.partitionBy("event_type").orderBy("__h")
    sk = (
        hashed.withColumn("__r", F.row_number().over(wk))
        .filter(F.col("__r") <= _KMV_K)
        .drop("__r")
    )
    # union sketch: distinct hashes of both sketches, cut to k
    wu = Window.orderBy("__h")
    un = (
        sk.select("__h")
        .distinct()
        .withColumn("__r", F.row_number().over(wu))
        .filter(F.col("__r") <= _KMV_K)
    )
    theta = un.agg(
        F.max("__h").alias("theta"), F.count(F.lit(1)).alias("u_size")
    )

    def est(size_col, kth_col):
        return F.when(
            F.col(size_col) < _KMV_K, F.col(size_col).cast("double")
        ).otherwise(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_M) / F.col(kth_col).cast("double")
        )

    # ONE conditional aggregation (not a per-type filter-split): the
    # result is a single row even when a side has no events, matching
    # the oracle's shape (a filter-split would collapse to 0 rows)
    sides = sk.agg(
        F.sum((F.col("event_type") == "click").cast("int")).alias("a_size"),
        F.max(
            F.when(F.col("event_type") == "click", F.col("__h"))
        ).alias("a_kth"),
        F.sum(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("b_size"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("__h"))
        ).alias("b_kth"),
    )
    # intersection: hashes below theta that BOTH sketches contain
    both = (
        sk.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__sides"))
        .filter(F.col("__sides") == 2)
        .crossJoin(F.broadcast(theta.select("theta")))
        .filter(F.col("__h") <= F.col("theta"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    exact = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "click").cast("int")
            ).alias("is_a"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("is_b"),
        )
        .agg(
            F.sum("is_a").alias("exact_click"),
            F.sum("is_b").alias("exact_purchase"),
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(
                ((F.col("is_a") + F.col("is_b")) == 2).cast("int")
            ).alias("exact_intersection"),
        )
    )
    est_a = est("a_size", "a_kth")
    est_b = est("b_size", "b_kth")
    est_u = est("u_size", "theta")
    return (
        sides.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(both))
        .crossJoin(F.broadcast(exact))
        .select(
            est_a.alias("est_click"),
            est_b.alias("est_purchase"),
            est_u.alias("est_union"),
            F.when(
                F.col("u_size") < _KMV_K, F.col("n_both").cast("double")
            )
            .otherwise(
                F.col("n_both").cast("double")
                * F.lit(_KMV_M)
                / F.col("theta").cast("double")
            )
            .alias("est_inter_theta"),
            (est_a + est_b - est_u).alias("est_inter_ie"),
            "exact_click",
            "exact_purchase",
            "exact_union",
            "exact_intersection",
        )
    )


KMV_SET_OPS_USERS_SQL = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         {hash60_sql("CAST(user_id AS VARCHAR)")} AS h
  FROM events
  WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL
),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM hashed
  ) WHERE r <= {_KMV_K}
),
un AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS r
    FROM (SELECT DISTINCT h FROM sk)
  ) WHERE r <= {_KMV_K}
),
theta AS (SELECT MAX(h) AS theta, COUNT(*) AS u_size FROM un),
sides AS (
  -- one conditional aggregation (not a per-type filter), so an empty
  -- side still yields the single row — mirrors the Spark shape
  SELECT SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a_size,
         MAX(CASE WHEN event_type = 'click' THEN h END) AS a_kth,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b_size,
         MAX(CASE WHEN event_type = 'purchase' THEN h END) AS b_kth
  FROM sk
),
inboth AS (
  SELECT COUNT(*) AS n_both FROM (
    SELECT h FROM sk GROUP BY h HAVING COUNT(*) = 2
  ) b CROSS JOIN theta t WHERE b.h <= t.theta
),
exact AS (
  SELECT SUM(is_a) AS exact_click, SUM(is_b) AS exact_purchase,
         COUNT(*) AS exact_union,
         SUM(CASE WHEN is_a + is_b = 2 THEN 1 ELSE 0 END)
           AS exact_intersection
  FROM (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS is_a,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS is_b
    FROM events
    WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL
    GROUP BY user_id
  )
),
flat AS (
  SELECT s.a_size, s.a_kth, s.b_size, s.b_kth,
         t.theta, t.u_size, bo.n_both
  FROM sides s CROSS JOIN theta t CROSS JOIN inboth bo
)
SELECT
  CASE WHEN a_size < {_KMV_K} THEN CAST(a_size AS DOUBLE)
       ELSE {float(_KMV_K - 1)} * {_KMV_M} / CAST(a_kth AS DOUBLE) END
    AS est_click,
  CASE WHEN b_size < {_KMV_K} THEN CAST(b_size AS DOUBLE)
       ELSE {float(_KMV_K - 1)} * {_KMV_M} / CAST(b_kth AS DOUBLE) END
    AS est_purchase,
  CASE WHEN u_size < {_KMV_K} THEN CAST(u_size AS DOUBLE)
       ELSE {float(_KMV_K - 1)} * {_KMV_M} / CAST(theta AS DOUBLE) END
    AS est_union,
  CASE WHEN u_size < {_KMV_K} THEN CAST(n_both AS DOUBLE)
       ELSE CAST(n_both AS DOUBLE) * {_KMV_M} / CAST(theta AS DOUBLE) END
    AS est_inter_theta,
  (CASE WHEN a_size < {_KMV_K} THEN CAST(a_size AS DOUBLE)
        ELSE {float(_KMV_K - 1)} * {_KMV_M} / CAST(a_kth AS DOUBLE) END
   + CASE WHEN b_size < {_KMV_K} THEN CAST(b_size AS DOUBLE)
          ELSE {float(_KMV_K - 1)} * {_KMV_M} / CAST(b_kth AS DOUBLE) END
   - CASE WHEN u_size < {_KMV_K} THEN CAST(u_size AS DOUBLE)
          ELSE {float(_KMV_K - 1)} * {_KMV_M} / CAST(theta AS DOUBLE) END)
    AS est_inter_ie,
  CAST(e.exact_click AS BIGINT) AS exact_click,
  CAST(e.exact_purchase AS BIGINT) AS exact_purchase,
  e.exact_union,
  CAST(e.exact_intersection AS BIGINT) AS exact_intersection
FROM flat CROSS JOIN exact e
"""


# --- AMS F2 (self-join size) sketch -----------------------------------------

_AMS_D = 9


def ams_f2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch per event type: F2 =
    sum(count(user)^2) — the SELF-JOIN SIZE of the user column, the
    planner statistic that predicts join blow-up and the skew metric
    behind salting decisions. The sketch keeps nine signed counters
    Z_j = sum(sign_j(user)); each Z_j^2 is an unbiased F2 estimate and
    the MEDIAN of the nine de-noises it (Alon-Matias-Szegedy 1996).
    Exact F2 computed alongside as the accuracy column.

    Shape: the sketch is ONE aggregation of nine signed integer sums
    (map-side combinable, constant state — this is what runs at
    100 TB); the exact twin is a per-key count + sum of squares. Signs
    come from the parity of the repo's affine permutations of hash60,
    so every engine derives identical +-1 draws. Built from the
    MERGEABLE parts in operators/sketches (ams_counters/ams_estimate);
    the additive merge powers the streaming maintenance twin
    (streaming/state.streaming_ams_sketch)."""
    from data_integration_case_study_spark.operators.sketches import (
        ams_counters,
        ams_estimate,
    )

    e = read_parquet_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    sketch = ams_estimate(
        ams_counters(e, ["event_type"], "user_id", _AMS_D), _AMS_D
    )
    exact = (
        e.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    )
    return (
        sketch.join(exact, "event_type")
        .select("event_type", "n_rows", "est_f2", "exact_f2")
        .orderBy("event_type")
    )


def _ams_sql() -> str:
    params = _affine_params(_AMS_D, AMS_SEED)
    h = f"({hash60_sql('CAST(user_id AS VARCHAR)')} % {_MERSENNE})"
    zs = ", ".join(
        f"SUM(1 - 2 * ((({a} * {h} + {b}) % {_MERSENNE}) % 2)) AS z{j}"
        for j, (a, b) in enumerate(params)
    )
    sq = ", ".join(f"z{j} * z{j}" for j in range(_AMS_D))
    return f"""
WITH e AS (SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL),
sk AS (
  SELECT event_type, COUNT(*) AS n_rows, {zs}
  FROM e GROUP BY event_type
),
ex AS (
  SELECT event_type, SUM(c * c) AS exact_f2 FROM (
    SELECT event_type, user_id, COUNT(*) AS c FROM e GROUP BY 1, 2
  ) GROUP BY event_type
)
SELECT sk.event_type, n_rows,
       CAST(list_sort([{sq}])[{(_AMS_D + 1) // 2}] AS BIGINT) AS est_f2,
       CAST(exact_f2 AS BIGINT) AS exact_f2
FROM sk JOIN ex ON sk.event_type = ex.event_type
ORDER BY sk.event_type
"""


# --- mutual information / Cramér's V census ----------------------------------

_MI_PAIRS = [
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("documents", "lang", "source"),
    ("lineitem", "l_returnflag", "l_linestatus"),
]


def mutual_information_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (bits) and Cramér's V between categorical
    column pairs across the star schema — the dependence census feature
    selection and DQ monitoring read together (MI catches ANY
    dependence; V normalizes the chi-square to [0,1] so pairs of
    different cardinality compare). Extends entropy_census from
    single-column shape to pairwise structure.

    Shape: per pair, ONE contingency aggregation (cells = the product
    of two small domains); marginals and totals are windows over the
    cell grid, never a second fact pass. Determinism: MI terms are
    c * round(ln(c*n / (r*s)), 9) accumulated in exact (18,0)x(19,9)
    decimal; chi-square cell terms round to 9 through decimal before
    the sum; final bits/V round to 6 (the libm tolerance discipline)."""
    outs = []
    for tbl, cx, cy in _MI_PAIRS:
        df = read_parquet_table(spark, sf_dir, tbl).filter(
            F.col(cx).isNotNull() & F.col(cy).isNotNull()
        )
        cells = df.groupBy(
            F.col(cx).cast("string").alias("x"),
            F.col(cy).cast("string").alias("y"),
        ).agg(F.count(F.lit(1)).alias("c"))
        wx = Window.partitionBy("x")
        wy = Window.partitionBy("y")
        wall = Window.partitionBy()
        g = (
            cells.withColumn("r", F.sum("c").over(wx))
            .withColumn("s", F.sum("c").over(wy))
            .withColumn("n", F.sum("c").over(wall))
        )
        arg = (F.col("c").cast("double") * F.col("n").cast("double")) / (
            F.col("r").cast("double") * F.col("s").cast("double")
        )
        mi_term = F.col("c").cast("decimal(18,0)") * F.round(F.log(arg), 9).cast(
            "decimal(19,9)"
        )
        e = (F.col("r").cast("double") * F.col("s").cast("double")) / F.col(
            "n"
        ).cast("double")
        chi_term = F.round(
            (F.col("c").cast("double") - e) * (F.col("c").cast("double") - e) / e,
            9,
        ).cast("decimal(28,9)")
        agg = g.agg(
            F.max("n").alias("__n"),
            F.countDistinct("x").alias("kx"),
            F.countDistinct("y").alias("ky"),
            F.sum(mi_term).alias("__mi"),
            F.sum(chi_term).alias("__chi"),
        )
        outs.append(
            agg.select(
                F.lit(f"{tbl}.{cx}").alias("col_x"),
                F.lit(f"{tbl}.{cy}").alias("col_y"),
                F.col("__n").alias("n_rows"),
                "kx",
                "ky",
                F.round(
                    F.col("__mi").cast("double")
                    / F.col("__n").cast("double")
                    / F.lit(_LN2),
                    6,
                ).alias("mi_bits"),
                F.round(F.col("__chi").cast("double"), 6).alias("chi2"),
                F.round(
                    F.sqrt(
                        F.col("__chi").cast("double")
                        / (
                            F.col("__n").cast("double")
                            * (F.least("kx", "ky") - F.lit(1)).cast("double")
                        )
                    ),
                    6,
                ).alias("cramers_v"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _mi_sql() -> str:
    parts = []
    for tbl, cx, cy in _MI_PAIRS:
        parts.append(f"""
SELECT '{tbl}.{cx}' AS col_x, '{tbl}.{cy}' AS col_y,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       COUNT(DISTINCT x) AS kx, COUNT(DISTINCT y) AS ky,
       round(CAST(CAST(SUM(CAST(c AS DECIMAL(18,0))
             * CAST(round(ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                            / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE))), 9)
                    AS DECIMAL(19,9))) AS VARCHAR) AS DOUBLE)
             / CAST(MAX(n) AS DOUBLE) / {_LN2}, 6) AS mi_bits,
       round(CAST(CAST(SUM(CAST(round(
               (CAST(c AS DOUBLE)
                - CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(c AS DOUBLE)
                  - CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE), 6) AS chi2,
       round(sqrt(CAST(CAST(SUM(CAST(round(
               (CAST(c AS DOUBLE)
                - CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(c AS DOUBLE)
                  - CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE)
             / (CAST(MAX(n) AS DOUBLE)
                * CAST(least(COUNT(DISTINCT x), COUNT(DISTINCT y)) - 1
                       AS DOUBLE))), 6) AS cramers_v
FROM (
  SELECT x, y, c,
         SUM(c) OVER (PARTITION BY x) AS r,
         SUM(c) OVER (PARTITION BY y) AS s,
         SUM(c) OVER () AS n
  FROM (SELECT CAST({cx} AS VARCHAR) AS x, CAST({cy} AS VARCHAR) AS y,
               COUNT(*) AS c
        FROM {tbl}
        WHERE {cx} IS NOT NULL AND {cy} IS NOT NULL
        GROUP BY 1, 2)
)""")
    return "\nUNION ALL\n".join(parts)


# --- trimmed / winsorized mean -------------------------------------------------


def trimmed_mean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location census of order value: the plain mean, the 5%
    TRIMMED mean (drop the bottom and top n/20 by rank), and the 5%
    WINSORIZED mean (clamp to the cut values instead of dropping) — the
    outlier-robust KPIs a revenue dashboard shows next to the mean, and
    the MAD census' location-side sibling.

    Shape: one rank window over the fact rows (value-ordered with an
    explicit key tie-break), then ONE conditional aggregation. All three
    means come out of exact integer-cent sums: the winsorized sum is
    trimmed_sum + k*lo_cut + k*hi_cut, so there is no clamped re-scan.
    Determinism: k = n//20 in integer arithmetic; each mean is one
    double division."""
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    n = o.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s_all"))
    w = Window.orderBy("cents", "o_orderkey")
    ranked = o.withColumn("rk", F.row_number().over(w)).crossJoin(F.broadcast(n))
    k = F.floor(F.col("n") / 20)
    agg = ranked.agg(
        F.max("n").alias("n_orders"),
        F.max("s_all").alias("s_all"),
        F.max(F.floor(F.col("n") / 20)).alias("k"),
        F.sum(F.when(F.col("rk") <= k, F.col("cents"))).alias("s_bot"),
        F.sum(F.when(F.col("rk") > F.col("n") - k, F.col("cents"))).alias("s_top"),
        F.min(F.when(F.col("rk") == k + 1, F.col("cents"))).alias("lo_cut"),
        F.min(F.when(F.col("rk") == F.col("n") - k, F.col("cents"))).alias(
            "hi_cut"
        ),
    )
    trimmed_sum = F.col("s_all") - F.col("s_bot") - F.col("s_top")
    wins_sum = trimmed_sum + F.col("k") * F.col("lo_cut") + F.col("k") * F.col(
        "hi_cut"
    )
    return agg.select(
        "n_orders",
        (F.col("s_all").cast("double") / F.col("n_orders").cast("double") / 100.0)
        .alias("mean"),
        (
            trimmed_sum.cast("double")
            / (F.col("n_orders") - 2 * F.col("k")).cast("double")
            / 100.0
        ).alias("trimmed_mean_5"),
        (
            wins_sum.cast("double") / F.col("n_orders").cast("double") / 100.0
        ).alias("winsorized_mean_5"),
        (F.col("lo_cut").cast("double") / 100.0).alias("lo_cut"),
        (F.col("hi_cut").cast("double") / 100.0).alias("hi_cut"),
    )


TRIMMED_MEAN_ORDERS_SQL = """
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
t AS (SELECT COUNT(*) AS n, SUM(cents) AS s_all FROM o),
ranked AS (
  SELECT cents, n, s_all, n // 20 AS k,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rk
  FROM o, t
),
agg AS (
  SELECT MAX(n) AS n_orders, MAX(s_all) AS s_all, MAX(k) AS k,
         SUM(CASE WHEN rk <= k THEN cents END) AS s_bot,
         SUM(CASE WHEN rk > n - k THEN cents END) AS s_top,
         MIN(CASE WHEN rk = k + 1 THEN cents END) AS lo_cut,
         MIN(CASE WHEN rk = n - k THEN cents END) AS hi_cut
  FROM ranked
)
SELECT n_orders,
       CAST(s_all AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0 AS mean,
       CAST(s_all - s_bot - s_top AS DOUBLE)
         / CAST(n_orders - 2 * k AS DOUBLE) / 100.0 AS trimmed_mean_5,
       CAST(s_all - s_bot - s_top + k * lo_cut + k * hi_cut AS DOUBLE)
         / CAST(n_orders AS DOUBLE) / 100.0 AS winsorized_mean_5,
       CAST(lo_cut AS DOUBLE) / 100.0 AS lo_cut,
       CAST(hi_cut AS DOUBLE) / 100.0 AS hi_cut
FROM agg
"""


# --- Neyman allocation ----------------------------------------------------------

_NEYMAN_BUDGET = 1000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation of a 1000-row audit budget
    across the customer market segments: n_h proportional to N_h * S_h
    (stratum size x stddev of account balance) — the survey-design
    answer to "where should the audit rows go?", and the principled
    upgrade of proportional stratified_sample.

    Shape: one conditional-moment aggregation per stratum (count, exact
    cent sum, bounded decimal sum of squares — one fact pass), then
    stratum-domain arithmetic. Determinism: each stddev is the Welch
    fixed chain from exact integers; the allocation weights round to 6
    through decimal before the cross-stratum sum (order-independent),
    and each allocation is one double division."""
    c = read_parquet_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    per = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("cents").alias("s_h"),
        F.sum(
            F.col("cents").cast("decimal(23,0)") * F.col("cents").cast("decimal(15,0)")
        ).alias("q_h"),
    )
    var = (
        F.col("q_h").cast("double")
        - F.col("s_h").cast("double")
        * F.col("s_h").cast("double")
        / F.col("n_h").cast("double")
    ) / (F.col("n_h").cast("double") - F.lit(1.0))
    scored = per.select(
        "c_mktsegment",
        "n_h",
        (F.sqrt(var) / F.lit(100.0)).alias("stddev"),
        F.round(F.col("n_h").cast("double") * F.sqrt(var) / F.lit(100.0), 6)
        .cast("decimal(28,6)")
        .alias("w"),
    )
    tot = Window.partitionBy()
    return (
        scored.withColumn("wt", F.sum("w").over(tot))
        .select(
            "c_mktsegment",
            "n_h",
            "stddev",
            F.col("w").cast("double").alias("weight"),
            (
                F.lit(float(_NEYMAN_BUDGET))
                * F.col("w").cast("double")
                / F.col("wt").cast("double")
            ).alias("alloc_n"),
        )
        .orderBy("c_mktsegment")
    )


NEYMAN_ALLOCATION_SQL = f"""
WITH per AS (
  SELECT c_mktsegment, COUNT(*) AS n_h, SUM(cents) AS s_h,
         SUM(CAST(cents AS DECIMAL(23,0)) * CAST(cents AS DECIMAL(15,0))) AS q_h
  FROM (SELECT c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer)
  GROUP BY 1
),
scored AS (
  SELECT c_mktsegment, n_h,
         sqrt((CAST(CAST(q_h AS VARCHAR) AS DOUBLE)
               - CAST(s_h AS DOUBLE) * CAST(s_h AS DOUBLE)
                 / CAST(n_h AS DOUBLE))
              / (CAST(n_h AS DOUBLE) - 1.0)) / 100.0 AS stddev,
         CAST(round(CAST(n_h AS DOUBLE)
               * (sqrt((CAST(CAST(q_h AS VARCHAR) AS DOUBLE)
                        - CAST(s_h AS DOUBLE) * CAST(s_h AS DOUBLE)
                          / CAST(n_h AS DOUBLE))
                       / (CAST(n_h AS DOUBLE) - 1.0)) / 100.0), 6)
              AS DECIMAL(28,6)) AS w
  FROM per
)
SELECT c_mktsegment, n_h, stddev, CAST(w AS DOUBLE) AS weight,
       {float(_NEYMAN_BUDGET)} * CAST(w AS DOUBLE)
         / CAST(SUM(w) OVER () AS DOUBLE) AS alloc_n
FROM scored
ORDER BY c_mktsegment
"""


# --- capture-recapture corpus estimate ------------------------------------------


def capture_recapture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman) estimate of corpus size from two
    independent 20% hash samples — the coverage-estimation trick for
    populations you cannot enumerate (how big is the crawlable web
    behind what two crawl snapshots saw?). Here the truth is available,
    so the row is its own accuracy audit.

    Shape: ONE scan, one conditional aggregation (membership in each
    sample is a deterministic hash cut, so the "two samples" never
    materialize). The Chapman estimator (n1+1)(n2+1)/(m+1) - 1 is an
    exact integer product with one double division."""
    d = read_parquet_table(spark, sf_dir, "documents")
    in_a = hash60(F.concat(F.lit("crA|"), F.col("doc_id").cast("string"))) % 100 < 20
    in_b = hash60(F.concat(F.lit("crB|"), F.col("doc_id").cast("string"))) % 100 < 20
    agg = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(in_a.cast("int")).alias("n1"),
        F.sum(in_b.cast("int")).alias("n2"),
        F.sum((in_a & in_b).cast("int")).alias("overlap"),
    )
    return agg.select(
        "n_docs",
        "n1",
        "n2",
        "overlap",
        (
            ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
            / (F.col("overlap") + 1).cast("double")
            - F.lit(1.0)
        ).alias("chapman_est"),
    )


CAPTURE_RECAPTURE_DOCS_SQL = f"""
WITH flags AS (
  SELECT {hash60_sql("'crA|' || CAST(doc_id AS VARCHAR)")} % 100 < 20 AS in_a,
         {hash60_sql("'crB|' || CAST(doc_id AS VARCHAR)")} % 100 < 20 AS in_b
  FROM documents
),
agg AS (
  SELECT COUNT(*) AS n_docs,
         SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS overlap
  FROM flags
)
SELECT n_docs, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(overlap AS BIGINT) AS overlap,
       CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / CAST(overlap + 1 AS DOUBLE) - 1.0
         AS chapman_est
FROM agg
"""


QUERIES = {
    "survival_km_conversion": survival_km_conversion,
    "acf_daily_revenue": acf_daily_revenue,
    "bootstrap_ci_revenue": bootstrap_ci_revenue,
    "item_item_cosine": item_item_cosine,
    "entropy_census": entropy_census,
    "kmv_set_ops_users": kmv_set_ops_users,
    "ams_f2_events": ams_f2_events,
    "mutual_information_pairs": mutual_information_pairs,
    "trimmed_mean_orders": trimmed_mean_orders,
    "neyman_allocation": neyman_allocation,
    "capture_recapture_docs": capture_recapture_docs,
}

ORACLES = {
    "survival_km_conversion": SURVIVAL_KM_CONVERSION_SQL,
    "acf_daily_revenue": ACF_DAILY_REVENUE_SQL,
    "bootstrap_ci_revenue": _bootstrap_sql(),
    "item_item_cosine": ITEM_ITEM_COSINE_SQL,
    "entropy_census": _entropy_sql(),
    "kmv_set_ops_users": KMV_SET_OPS_USERS_SQL,
    "ams_f2_events": _ams_sql(),
    "mutual_information_pairs": _mi_sql(),
    "trimmed_mean_orders": TRIMMED_MEAN_ORDERS_SQL,
    "neyman_allocation": NEYMAN_ALLOCATION_SQL,
    "capture_recapture_docs": CAPTURE_RECAPTURE_DOCS_SQL,
}

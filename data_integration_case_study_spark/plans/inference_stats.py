"""Hypothesis tests, distribution fits, and causal/survey statistics
— one of the four inference plan modules (inference_stats,
inference_ts, inference_eval, inference_rec)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.text import hash60, hash60_sql
from data_integration_case_study_spark.sources.readers import read_parquet_table
from pyspark.sql import DataFrame, SparkSession, Window
from data_integration_case_study_spark.functions.text import hash60, hash60_sql
from data_integration_case_study_spark.sources.readers import read_parquet_table


# --- log-rank test: conversion survival between two hash arms ---------------


def log_rank_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing signup->purchase conversion
    SURVIVAL CURVES between two deterministic user-hash arms — the
    time-to-event counterpart of two_proportion_test (which compares
    only the terminal conversion RATE and is blind to *when* users
    convert). Same duration framing as survival_km_conversion: hours
    from first signup to first subsequent purchase, right-censored at
    the corpus max timestamp.

    At every distinct event hour t: d_g observed conversions and n_g
    at-risk per arm; the test accumulates O1 = sum d1, E1 = sum
    n1*d/n, and the hypergeometric variance V = sum n1*n0*d*(n-d) /
    (n^2*(n-1)); chi2 = (O1-E1)^2/V with 1 dof.

    Shape: two per-user min-aggregations over the event log (the
    fact-table work), ONE conditional aggregation onto the duration
    grid, cumulative windows over that tiny grid, one final fold —
    everything after the groupBys is bounded by the duration domain.

    Determinism: at-risk/event counts are exact integer window sums;
    per-bucket E1/V terms are fixed IEEE chains from those integers,
    rounded to 9 and accumulated through decimal (order-independent,
    the KM discipline); the arm split is hash60 of the user id — no
    RNG state."""
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
    arm = F.pmod(
        hash60(F.concat(F.lit("logrank-v1:"), F.col("user_id").cast("string"))),
        F.lit(2),
    ).cast("int")
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
            arm.alias("arm"),
        )
    )
    grid = per_user.groupBy("duration_h").agg(
        F.sum("observed").alias("d"),
        F.sum(F.col("observed") * F.col("arm")).alias("d1"),
        F.count(F.lit(1)).alias("l"),
        F.sum("arm").alias("l1"),
    )
    totals = per_user.agg(
        F.count(F.lit(1)).alias("__n_tot"), F.sum("arm").alias("__n1_tot")
    )
    w = Window.orderBy("duration_h").rowsBetween(Window.unboundedPreceding, -1)
    stepped = (
        grid.crossJoin(F.broadcast(totals))
        .withColumn(
            "n_at",
            F.col("__n_tot") - F.coalesce(F.sum("l").over(w), F.lit(0)),
        )
        .withColumn(
            "n1_at",
            F.col("__n1_tot") - F.coalesce(F.sum("l1").over(w), F.lit(0)),
        )
        .filter(F.col("d") > 0)
    )
    nd = F.col("n_at").cast("double")
    n1d = F.col("n1_at").cast("double")
    n0d = (F.col("n_at") - F.col("n1_at")).cast("double")
    dd = F.col("d").cast("double")
    e1_term = F.round((n1d * dd) / nd, 9).cast("decimal(28,9)")
    # hypergeometric variance of d1 at this bucket; n_at == 1 can only
    # happen at the last event hour (a single survivor) — V term is 0
    v_term = F.when(F.col("n_at") > 1, F.round(
        ((n1d * n0d) * (dd * (nd - dd))) / ((nd * nd) * (nd - F.lit(1.0))),
        9,
    )).otherwise(F.lit(0.0)).cast("decimal(28,9)")
    folded = stepped.agg(
        F.count(F.lit(1)).alias("n_event_hours"),
        F.sum("d1").alias("o1"),
        F.sum(F.col("d") - F.col("d1")).alias("o0"),
        F.sum(e1_term).cast("double").alias("e1"),
        F.sum(v_term).cast("double").alias("v"),
    )
    arms = per_user.agg(
        F.sum("arm").alias("n_users_1"),
        F.sum(F.lit(1) - F.col("arm")).alias("n_users_0"),
    )
    o1d = F.col("o1").cast("double")
    return folded.crossJoin(F.broadcast(arms)).select(
        "n_users_0",
        "n_users_1",
        "n_event_hours",
        "o0",
        "o1",
        F.round("e1", 6).alias("e1"),
        F.round("v", 6).alias("v"),
        F.round((o1d - F.col("e1")) * (o1d - F.col("e1")) / F.col("v"), 6).alias(
            "chi2"
        ),
    )


LOG_RANK_CONVERSION_SQL = f"""
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
         CASE WHEN pu.purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS observed,
         CAST({hash60_sql("'logrank-v1:' || CAST(su.user_id AS VARCHAR)")} % 2
              AS INT) AS arm
  FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN mx
),
grid AS (
  SELECT duration_h, SUM(observed) AS d, SUM(observed * arm) AS d1,
         COUNT(*) AS l, SUM(arm) AS l1
  FROM per_user GROUP BY duration_h
),
tot AS (SELECT COUNT(*) AS n_tot, SUM(arm) AS n1_tot FROM per_user),
stepped AS (
  SELECT duration_h, d, d1,
         t.n_tot - COALESCE(SUM(l) OVER (ORDER BY duration_h
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at,
         t.n1_tot - COALESCE(SUM(l1) OVER (ORDER BY duration_h
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1_at
  FROM grid CROSS JOIN tot t
),
terms AS (
  SELECT d, d1,
         CAST(round((CAST(n1_at AS DOUBLE) * CAST(d AS DOUBLE))
                    / CAST(n_at AS DOUBLE), 9) AS DECIMAL(28,9)) AS e1_term,
         CAST(CASE WHEN n_at > 1 THEN round(
             ((CAST(n1_at AS DOUBLE) * CAST(n_at - n1_at AS DOUBLE))
              * (CAST(d AS DOUBLE) * (CAST(n_at AS DOUBLE) - CAST(d AS DOUBLE))))
             / ((CAST(n_at AS DOUBLE) * CAST(n_at AS DOUBLE))
                * (CAST(n_at AS DOUBLE) - 1.0e0)), 9)
           ELSE 0.0e0 END AS DECIMAL(28,9)) AS v_term
  FROM stepped WHERE d > 0
),
folded AS (
  SELECT COUNT(*) AS n_event_hours, SUM(d1) AS o1, SUM(d - d1) AS o0,
         CAST(SUM(e1_term) AS DOUBLE) AS e1,
         CAST(SUM(v_term) AS DOUBLE) AS v
  FROM terms
),
arms AS (
  SELECT SUM(arm) AS n_users_1, SUM(1 - arm) AS n_users_0 FROM per_user
)
SELECT CAST(a.n_users_0 AS BIGINT) AS n_users_0,
       CAST(a.n_users_1 AS BIGINT) AS n_users_1, f.n_event_hours,
       CAST(f.o0 AS BIGINT) AS o0, CAST(f.o1 AS BIGINT) AS o1,
       round(f.e1, 6) AS e1, round(f.v, 6) AS v,
       round((CAST(f.o1 AS DOUBLE) - f.e1) * (CAST(f.o1 AS DOUBLE) - f.e1)
             / f.v, 6) AS chi2
FROM folded f CROSS JOIN arms a
"""

# --- Poisson overdispersion test --------------------------------------------


def overdispersion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion test for the daily event-count series, per
    event type: under a Poisson arrival model variance == mean, so
    D = var/mean >> 1 (overdispersion: bursts, bots, retry storms) or
    << 1 (underdispersion: rate limiting, dedup upstream) are both
    pipeline-health signals. chi2 = (n-1)*D is the classical
    conditional test statistic with n-1 dof.

    The day grid is the CROSS of all observed days x all types with
    zero-fill — a type that's silent on a busy day is evidence, not a
    missing row.

    Shape: ONE count aggregation over the fact table; the grid join and
    moment fold run on (days x types) rows — calendar-domain work.
    Determinism: counts/moment sums are exact integers; mean, variance,
    dispersion, chi2 are fixed IEEE chains from those integers (no libm
    => no rounding needed, but reported at 6 for display)."""
    e = read_parquet_table(spark, sf_dir, "events")
    counts = e.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    days = e.select(F.to_date("ts").alias("d")).distinct()
    types = e.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(counts, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    m = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("n_events"),
        # decimal-staged square (c ~ 1e10/day at the 100 TB target
        # would wrap c*c in long)
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("__s2"),
    )
    nd = F.col("n_days").cast("double")
    sd = F.col("n_events").cast("double")
    # var = (n*S2 - S^2)/(n*(n-1)) with the numerator exact in decimal
    num = (
        F.col("n_days").cast("decimal(38,0)") * F.col("__s2")
        - F.col("n_events").cast("decimal(38,0)") * F.col("n_events")
    ).cast("double")
    variance = num / (nd * (nd - F.lit(1.0)))
    mean = sd / nd
    return m.select(
        "event_type",
        "n_days",
        "n_events",
        F.round(mean, 6).alias("mean_daily"),
        F.round(variance, 6).alias("var_daily"),
        F.round(variance / mean, 6).alias("dispersion_index"),
        F.round((nd - F.lit(1.0)) * (variance / mean), 6).alias("chi2"),
    ).orderBy("event_type")


OVERDISPERSION_EVENTS_SQL = """
WITH counts AS (
  SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (
  SELECT dy.d, t.event_type, COALESCE(c.c, 0) AS c
  FROM days dy CROSS JOIN types t
  LEFT JOIN counts c ON c.d = dy.d AND c.event_type = t.event_type
),
m AS (
  SELECT event_type, COUNT(*) AS n_days, SUM(c) AS n_events,
         SUM(CAST(c AS DECIMAL(38,0)) * c) AS s2
  FROM grid GROUP BY 1
)
SELECT event_type, n_days, CAST(n_events AS BIGINT) AS n_events,
       round(CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
         AS mean_daily,
       round(CAST(CAST(CAST(n_days AS DECIMAL(38,0)) * s2 - CAST(n_events AS DECIMAL(38,0)) * n_events AS VARCHAR) AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0e0)), 6)
         AS var_daily,
       round((CAST(CAST(CAST(n_days AS DECIMAL(38,0)) * s2 - CAST(n_events AS DECIMAL(38,0)) * n_events AS VARCHAR) AS DOUBLE)
              / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0e0)))
             / (CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)), 6)
         AS dispersion_index,
       round((CAST(n_days AS DOUBLE) - 1.0e0)
             * ((CAST(CAST(CAST(n_days AS DECIMAL(38,0)) * s2 - CAST(n_events AS DECIMAL(38,0)) * n_events AS VARCHAR) AS DOUBLE)
                 / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0e0)))
                / (CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE))), 6)
         AS chi2
FROM m
ORDER BY event_type
"""

# --- G-test of independence -------------------------------------------------


def g_test_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio G-test of independence between order priority
    and order status — the log-likelihood sibling of
    chi2_priority_status (G is additive under partitioning and is what
    mutual information x 2N measures, so the two reports cross-check:
    G = 2N * MI_nats). Output shape mirrors the chi2 report: the
    contingency table with expected counts, per-cell G contributions,
    and the total + dof on every row.

    Shape: ONE count aggregation over the facts; everything after runs
    on |priorities| x |statuses| cells. Determinism: marginals are
    exact integer window sums; the ln argument is a ratio of exact
    integer products (each < 2^53, exactly representable); per-cell
    terms round the one libm call (ln) at 9 and accumulate through
    decimal, the repo's libm-tolerance discipline."""
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
    od = F.col("observed").cast("double")
    expected = (F.col("__row_t") * F.col("__col_t")).cast("double") / F.col(
        "__n"
    ).cast("double")
    # O*N and R*C are products of counts — both < 2^53, exact in double
    term = F.round(
        F.lit(2.0)
        * od
        * F.log(
            (F.col("observed") * F.col("__n")).cast("double")
            / (F.col("__row_t") * F.col("__col_t")).cast("double")
        ),
        9,
    ).cast("decimal(28,9)")
    dims = o.agg(
        (
            (F.countDistinct("o_orderpriority") - F.lit(1))
            * (F.countDistinct("o_orderstatus") - F.lit(1))
        ).alias("dof")
    )
    return (
        t.withColumn("__term", term)
        .withColumn("g_total", F.round(F.sum("__term").over(wall).cast("double"), 6))
        .crossJoin(F.broadcast(dims))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "observed",
            F.round(expected, 6).alias("expected"),
            F.round(F.col("__term").cast("double"), 6).alias("g_contrib"),
            "g_total",
            "dof",
        )
    )


G_TEST_INDEPENDENCE_SQL = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS observed
  FROM orders GROUP BY 1, 2
),
t AS (
  SELECT *,
         SUM(observed) OVER (PARTITION BY o_orderpriority) AS row_t,
         SUM(observed) OVER (PARTITION BY o_orderstatus) AS col_t,
         SUM(observed) OVER () AS n
  FROM cells
),
terms AS (
  SELECT *,
         CAST(round(2.0e0 * CAST(observed AS DOUBLE)
                    * ln(CAST(observed * n AS DOUBLE)
                         / CAST(row_t * col_t AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS term
  FROM t
),
dims AS (
  SELECT (COUNT(DISTINCT o_orderpriority) - 1)
         * (COUNT(DISTINCT o_orderstatus) - 1) AS dof
  FROM orders
)
SELECT o_orderpriority, o_orderstatus, observed,
       round(CAST(row_t * col_t AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS expected,
       round(CAST(term AS DOUBLE), 6) AS g_contrib,
       round(CAST(SUM(term) OVER () AS DOUBLE), 6) AS g_total,
       (SELECT dof FROM dims) AS dof
FROM terms
"""

# --- extreme-value (Gumbel) fit of daily maxima -----------------------------

# method-of-moments Gumbel constants and the 30-day return-level
# reduced variate y = -ln(-ln(1 - 1/30)), precomputed as exact double
# literals so both engines use the identical value (no cross-engine ln)
_EULER_GAMMA = 0.5772156649015329
_SQRT6_OVER_PI = 0.779696801233676  # sqrt(6)/pi
_GUMBEL_Y30 = 3.3842944934992527  # -ln(-ln(29/30))


def evt_gumbel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis of order values: fit a Gumbel (EV-I)
    distribution to the DAILY BLOCK MAXIMA of o_totalprice by the
    method of moments (beta = sd*sqrt(6)/pi, mu = mean -
    euler_gamma*beta) and report the 30-day return level mu +
    beta*y30 — "the largest single order we should expect in a
    month", the capacity-planning read a fraud/limits team keeps.

    Shape: ONE max-per-day aggregation over the fact table, ONE
    moment row over the (days)-sized series. Determinism: block maxima
    are exact integer cents; mean/variance come from exact integer
    moment sums with single divisions; sqrt is correctly rounded by
    IEEE spec; the EVT constants are pinned double literals (no
    cross-engine libm ln)."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias("mx")
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("mx").alias("__s"),
        # stage the square through decimal BEFORE summing (the oracle
        # already does): sum(mx^2) sits within 35% of LONG_MAX at this
        # price scale and wraps silently in long
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("__s2"),
    )
    nd = F.col("n_days").cast("double")
    sd_ = F.col("__s").cast("double")
    num = (
        F.col("n_days").cast("decimal(38,0)") * F.col("__s2")
        - (F.col("__s").cast("decimal(38,0)") * F.col("__s"))
    ).cast("double")
    variance = num / (nd * (nd - F.lit(1.0)))
    mean = sd_ / nd
    sigma = F.sqrt(variance)
    beta = sigma * F.lit(_SQRT6_OVER_PI)
    mu = mean - F.lit(_EULER_GAMMA) * beta
    return m.select(
        "n_days",
        F.round(mean / F.lit(100.0), 4).alias("mean_daily_max"),
        F.round(sigma / F.lit(100.0), 4).alias("sd_daily_max"),
        F.round(mu / F.lit(100.0), 4).alias("gumbel_mu"),
        F.round(beta / F.lit(100.0), 4).alias("gumbel_beta"),
        F.round((mu + beta * F.lit(_GUMBEL_Y30)) / F.lit(100.0), 4).alias(
            "return_level_30d"
        ),
    )


EVT_GUMBEL_DAILY_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
  FROM orders GROUP BY 1
),
m AS (
  SELECT COUNT(*) AS n_days, SUM(mx) AS s,
         CAST(SUM(CAST(mx AS DECIMAL(38,0)) * mx) AS DECIMAL(38,0)) AS s2
  FROM daily
),
fit AS (
  SELECT n_days,
         CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
         sqrt(CAST(CAST(CAST(n_days AS DECIMAL(38,0)) * s2
                        - CAST(s AS DECIMAL(38,0)) * s AS VARCHAR) AS DOUBLE)
              / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0e0)))
           AS sigma
  FROM m
)
SELECT n_days,
       round(mean / 100.0e0, 4) AS mean_daily_max,
       round(sigma / 100.0e0, 4) AS sd_daily_max,
       round((mean - {_EULER_GAMMA!r} * (sigma * {_SQRT6_OVER_PI!r}))
             / 100.0e0, 4) AS gumbel_mu,
       round((sigma * {_SQRT6_OVER_PI!r}) / 100.0e0, 4) AS gumbel_beta,
       round(((mean - {_EULER_GAMMA!r} * (sigma * {_SQRT6_OVER_PI!r}))
              + (sigma * {_SQRT6_OVER_PI!r}) * {_GUMBEL_Y30!r})
             / 100.0e0, 4) AS return_level_30d
FROM fit
"""

# --- burstiness of inter-event gaps -----------------------------------------


def burstiness_interevent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness of the per-type event streams: from the
    inter-arrival gaps of each event type, B = (sigma - mu) / (sigma +
    mu) in [-1, 1] — B ~ -1 is a metronome (rate-limited/scheduled),
    B ~ 0 is Poisson, B >> 0 is bursty (bots, retry storms, campaign
    spikes) — plus the coefficient of variation. The distributional
    companion of overdispersion_events (which tests daily COUNTS;
    this reads the gap process itself).

    Shape: ONE lag window per (type) over the event log (partitioned
    by type — no global window), then a type-grain moment fold.
    Determinism: gaps are exact integer seconds from a (ts, event_id)
    tie-broken ordering; moment sums are exact; mean/sd/B are fixed
    IEEE chains with one correctly-rounded sqrt."""
    e = read_parquet_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        e.select("event_type", "ts", "event_id")
        .withColumn("__prev", F.lag(F.unix_timestamp("ts")).over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            "event_type",
            (F.unix_timestamp("ts") - F.col("__prev")).alias("gap_s"),
        )
    )
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("__s"),
        # decimal-staged square, mirroring the oracle's guard
        F.sum(F.col("gap_s").cast("decimal(38,0)") * F.col("gap_s")).alias(
            "__s2"
        ),
    )
    nd = F.col("n_gaps").cast("double")
    mean = F.col("__s").cast("double") / nd
    num = (
        F.col("n_gaps").cast("decimal(38,0)") * F.col("__s2")
        - F.col("__s").cast("decimal(38,0)") * F.col("__s")
    ).cast("double")
    sigma = F.sqrt(num / (nd * (nd - F.lit(1.0))))
    return m.select(
        "event_type",
        "n_gaps",
        F.round(mean, 4).alias("mean_gap_s"),
        F.round(sigma, 4).alias("sd_gap_s"),
        F.round(sigma / mean, 6).alias("cv"),
        F.round((sigma - mean) / (sigma + mean), 6).alias("burstiness"),
    ).orderBy("event_type")


BURSTINESS_INTEREVENT_SQL = """
WITH gaps AS (
  SELECT event_type,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id), ts) AS gap_s
  FROM events
),
m AS (
  SELECT event_type, COUNT(*) AS n_gaps, SUM(gap_s) AS s,
         CAST(SUM(CAST(gap_s AS DECIMAL(38,0)) * gap_s) AS DECIMAL(38,0)) AS s2
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
),
fit AS (
  SELECT event_type, n_gaps,
         CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
         sqrt(CAST(CAST(CAST(n_gaps AS DECIMAL(38,0)) * s2
                        - CAST(s AS DECIMAL(38,0)) * s AS VARCHAR) AS DOUBLE)
              / (CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0e0)))
           AS sigma
  FROM m
)
SELECT event_type, n_gaps,
       round(mean, 4) AS mean_gap_s,
       round(sigma, 4) AS sd_gap_s,
       round(sigma / mean, 6) AS cv,
       round((sigma - mean) / (sigma + mean), 6) AS burstiness
FROM fit
ORDER BY event_type
"""

# --- Lorenz curve of customer revenue ---------------------------------------


def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration in decile form,
    with the exact Gini coefficient: customers ranked by lifetime
    order revenue, split into 10 equal-count deciles, each reporting
    its revenue share and the cumulative share — "the top decile
    carries X% of revenue", the concentration read behind account
    tiering; Gini = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over the ranked
    per-customer series (the customer-grain companion of
    key_skew_report's key-level Gini).

    Shape: ONE revenue aggregation to customer grain, rank/ntile
    windows over the customer domain, a 10-row fold. Determinism:
    revenue is exact decimal cents; rank-weighted sums stay in
    DECIMAL(38,0); shares and Gini are single divisions of
    VARCHAR-routed casts."""
    o = read_parquet_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")).alias(
            "__rc"
        )
    )
    w = Window.orderBy(F.asc("__rc"), F.asc("o_custkey"))
    ranked = rev.withColumn("__i", F.row_number().over(w)).withColumn(
        "decile", F.ntile(10).over(w)
    )
    gini_parts = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__rc").alias("__tot"),
        F.sum(F.col("__i").cast("decimal(38,0)") * F.col("__rc")).alias("__iw"),
    )
    nd = F.col("__n").cast("double")
    gini = (
        F.lit(2.0) * F.col("__iw").cast("double")
        / (nd * F.col("__tot").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    per = (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("__rc").alias("__drc"),
        )
        .crossJoin(F.broadcast(gini_parts))
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.withColumn("__cum", F.sum("__drc").over(wcum))
        .select(
            "decile",
            "n_customers",
            F.round(F.col("__drc").cast("double") / F.lit(100.0), 2).alias(
                "revenue"
            ),
            F.round(
                F.col("__drc").cast("double") / F.col("__tot").cast("double"), 6
            ).alias("revenue_share"),
            F.round(
                F.col("__cum").cast("double") / F.col("__tot").cast("double"), 6
            ).alias("cum_share"),
            F.round(gini, 6).alias("gini_total"),
        )
        .orderBy("decile")
    )


LORENZ_CURVE_DECILES_SQL = """
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS rc
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT o_custkey, rc,
         row_number() OVER (ORDER BY rc, o_custkey) AS i,
         ntile(10) OVER (ORDER BY rc, o_custkey) AS decile
  FROM rev
),
gini_parts AS (
  SELECT COUNT(*) AS n, SUM(rc) AS tot,
         SUM(CAST(i AS DECIMAL(38,0)) * rc) AS iw
  FROM ranked
),
per AS (
  SELECT decile, COUNT(*) AS n_customers, SUM(rc) AS drc
  FROM ranked GROUP BY 1
),
cum AS (
  SELECT decile, n_customers, drc,
         SUM(drc) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumr
  FROM per
)
SELECT c.decile, c.n_customers,
       round(CAST(CAST(c.drc AS VARCHAR) AS DOUBLE) / 100.0e0, 2) AS revenue,
       round(CAST(CAST(c.drc AS VARCHAR) AS DOUBLE)
             / CAST(CAST(g.tot AS VARCHAR) AS DOUBLE), 6) AS revenue_share,
       round(CAST(CAST(c.cumr AS VARCHAR) AS DOUBLE)
             / CAST(CAST(g.tot AS VARCHAR) AS DOUBLE), 6) AS cum_share,
       round(2.0e0 * CAST(CAST(g.iw AS VARCHAR) AS DOUBLE)
             / (CAST(g.n AS DOUBLE) * CAST(CAST(g.tot AS VARCHAR) AS DOUBLE))
             - (CAST(g.n AS DOUBLE) + 1.0e0) / CAST(g.n AS DOUBLE), 6)
         AS gini_total
FROM cum c CROSS JOIN gini_parts g
ORDER BY c.decile
"""

# --- Cochran-Armitage trend test --------------------------------------------


def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for TREND in proportions across the
    ORDERED priority levels (scores 1..5 from the priority prefix):
    does the finished-order rate rise or fall monotonically with
    urgency? The ordered-alternative sibling of chi2_priority_status —
    chi2 spends power on any deviation; CA targets the dose-response
    pattern an ops team actually suspects. Report shape: one row per
    priority with its rate, plus T, variance, and z on every row.

    Shape: ONE conditional count aggregation over orders; everything
    after runs on the 5-level grid. Determinism: T and Var scale to
    exact DECIMAL(38,0) integers (T = A/N, Var = B/N^3 with A, B
    integral), z = A / sqrt(B*N) via VARCHAR-routed casts — one sqrt,
    one division."""
    o = read_parquet_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_orderstatus") == "F").cast("int")).alias("r"),
    ).withColumn(
        "score", F.substring("o_orderpriority", 1, 1).cast("int")
    )
    wall = Window.partitionBy()
    # totals are n_tot/r_tot, NOT "N"/"R": SQL identifiers are
    # case-insensitive in both engines, so "N" would silently resolve to
    # the per-row column n (caught by the oracle run: per-row A/B values)
    t = (
        g.withColumn("n_tot", F.sum("n").over(wall))
        .withColumn("r_tot", F.sum("r").over(wall))
        .withColumn("__sr", F.sum(F.col("score") * F.col("r")).over(wall))
        .withColumn("__sn", F.sum(F.col("score") * F.col("n")).over(wall))
        .withColumn(
            "__sn2",
            F.sum(F.col("score") * F.col("score") * F.col("n")).over(wall),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    A = dec(F.col("n_tot")) * F.col("__sr") - dec(F.col("r_tot")) * F.col("__sn")
    B = (
        dec(F.col("r_tot"))
        * (F.col("n_tot") - F.col("r_tot"))
        * (
            dec(F.col("n_tot")) * F.col("__sn2")
            - dec(F.col("__sn")) * F.col("__sn")
        )
    ).cast("decimal(38,0)")
    z = A.cast("double") / F.sqrt(
        (B * F.col("n_tot")).cast("decimal(38,0)").cast("double")
    )
    return t.select(
        "o_orderpriority",
        "score",
        "n",
        "r",
        F.round(F.col("r").cast("double") / F.col("n").cast("double"), 6).alias(
            "rate"
        ),
        # + 0.0 normalizes the SIGN OF ZERO (IEEE: -0.0 + 0.0 = +0.0;
        # every other value is unchanged). At this SF the A numerator is
        # exactly 0 and DuckDB's chain yields -0.0 where Spark yields
        # +0.0 — a value-hash mismatch class the comparator's integral
        # collapse hides locally but the driver may distinguish (the
        # HUGEINT lesson, float edition). Mirrored in the oracle.
        (F.round(z, 4) + F.lit(0.0)).alias("z_trend"),
        F.round(z * z, 4).alias("chi2_trend"),
    ).orderBy("score")


COCHRAN_ARMITAGE_TREND_SQL = """
WITH g AS (
  SELECT o_orderpriority,
         CAST(substr(o_orderpriority, 1, 1) AS INT) AS score,
         COUNT(*) AS n,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS r
  FROM orders GROUP BY 1
),
t AS (
  -- totals are n_tot/r_tot, NOT "N"/"R": identifiers are
  -- case-insensitive, so "N" would silently bind to the per-row n
  SELECT *,
         SUM(n) OVER () AS n_tot, SUM(r) OVER () AS r_tot,
         SUM(score * r) OVER () AS sr,
         SUM(score * n) OVER () AS sn,
         SUM(score * score * n) OVER () AS sn2
  FROM g
),
stats AS (
  SELECT *,
         CAST(n_tot AS DECIMAL(38,0)) * sr
           - CAST(r_tot AS DECIMAL(38,0)) * sn AS A,
         CAST(CAST(r_tot AS DECIMAL(38,0)) * (n_tot - r_tot)
              * (CAST(n_tot AS DECIMAL(38,0)) * sn2
                 - CAST(sn AS DECIMAL(38,0)) * sn) AS DECIMAL(38,0)) AS B
  FROM t
)
SELECT o_orderpriority, score, n, CAST(r AS BIGINT) AS r,
       round(CAST(r AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
       -- + 0.0 normalizes -0.0 to +0.0 (A is exactly 0 at small SF and
       -- this chain yields the negative zero; Spark side mirrors it)
       round(CAST(CAST(A AS VARCHAR) AS DOUBLE)
             / sqrt(CAST(CAST(CAST(B * n_tot AS DECIMAL(38,0)) AS VARCHAR)
                         AS DOUBLE)), 4) + 0.0 AS z_trend,
       round((CAST(CAST(A AS VARCHAR) AS DOUBLE)
              / sqrt(CAST(CAST(CAST(B * n_tot AS DECIMAL(38,0)) AS VARCHAR)
                          AS DOUBLE)))
             * (CAST(CAST(A AS VARCHAR) AS DOUBLE)
                / sqrt(CAST(CAST(CAST(B * n_tot AS DECIMAL(38,0)) AS VARCHAR)
                            AS DOUBLE))), 4) AS chi2_trend
FROM stats
ORDER BY score
"""

# --- McNemar's paired test --------------------------------------------------


def mcnemar_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired per-user behavior: did each user make
    a HIGH-VALUE purchase (>= $100) in the FIRST half of the month vs
    the SECOND half — the within-subject before/after design (feature
    launch, price change) where two_proportion_test's
    independent-sample assumption is wrong. Only the discordant cells
    carry information: chi2 = (b-c)^2/(b+c), with the continuity-
    corrected form alongside. (The raw any-purchase outcome is
    degenerate in this dense corpus — every user purchases in both
    halves, b=c=0 — so the monitored behavior is the value tail.)

    Shape: ONE conditional per-user aggregation over the event log,
    ONE 2x2 fold. Determinism: cells are exact integers; the
    statistics are single divisions, NULL when b+c = 0 (a fully
    concordant table carries no McNemar information)."""
    e = read_parquet_table(spark, sf_dir, "events")
    hi = (F.col("event_type") == "purchase") & (F.col("value") >= 100)
    per_user = e.groupBy("user_id").agg(
        F.max((hi & (F.dayofmonth("ts") <= 15)).cast("int")).alias("x1"),
        F.max((hi & (F.dayofmonth("ts") > 15)).cast("int")).alias("x2"),
    )
    folded = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("x1") * F.col("x2"))).alias("n_both"),
        F.sum(((F.col("x1") == 1) & (F.col("x2") == 0)).cast("int")).alias("b"),
        F.sum(((F.col("x1") == 0) & (F.col("x2") == 1)).cast("int")).alias("c"),
        F.sum(((F.col("x1") == 0) & (F.col("x2") == 0)).cast("int")).alias(
            "n_neither"
        ),
    )
    bd = F.col("b").cast("double")
    cd = F.col("c").cast("double")
    diff = bd - cd
    # b+c == 0 makes both statistics 0/0; surface NULL for the degenerate
    # 2x2 table instead of engine-specific NaN/div-by-zero behavior
    # (round-4 ADVICE; mirrors uplift_by_segment's guards).
    nondeg = (F.col("b") + F.col("c")) > 0
    return folded.select(
        "n_users",
        "n_both",
        "n_neither",
        "b",
        "c",
        F.when(nondeg, F.round(diff * diff / (bd + cd), 4)).alias("chi2"),
        F.when(
            nondeg,
            F.round(
                (F.abs(diff) - F.lit(1.0))
                * (F.abs(diff) - F.lit(1.0))
                / (bd + cd),
                4,
            ),
        ).alias("chi2_cc"),
    )


MCNEMAR_HALVES_SQL = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 100
                   AND day(ts) <= 15 THEN 1 ELSE 0 END) AS x1,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 100
                   AND day(ts) > 15 THEN 1 ELSE 0 END) AS x2
  FROM events GROUP BY user_id
),
folded AS (
  SELECT COUNT(*) AS n_users,
         SUM(x1 * x2) AS n_both,
         SUM(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN x1 = 0 AND x2 = 0 THEN 1 ELSE 0 END) AS n_neither
  FROM per_user
)
SELECT n_users, CAST(n_both AS BIGINT) AS n_both,
       CAST(n_neither AS BIGINT) AS n_neither,
       CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
       CASE WHEN b + c > 0 THEN
         round((CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
               * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
               / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)), 4)
       END AS chi2,
       CASE WHEN b + c > 0 THEN
         round((abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0e0)
               * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0e0)
               / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)), 4)
       END AS chi2_cc
FROM folded
"""

# --- uplift by segment ------------------------------------------------------


def uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-treatment-effect readout: per market segment, the
    purchase-conversion uplift between two deterministic user-hash
    arms, with the two-proportion z per segment — the segment-level
    drill-down of two_proportion_test that targeting decisions read
    ("the campaign moves BUILDING but not MACHINERY"). Users resolve
    to segments via the events.user_id -> customer key correspondence
    schema_matching_scores certifies.

    Shape: per-user conversion flags (one groupBy over events), one
    broadcast-friendly join to customer for the segment, one
    segment-grain conditional fold. Determinism: cells are exact
    integers; rates/uplift/se/z are fixed IEEE chains with one sqrt."""
    e = read_parquet_table(spark, sf_dir, "events")
    c = read_parquet_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    arm = F.pmod(
        hash60(F.concat(F.lit("uplift-v1:"), F.col("user_id").cast("string"))),
        F.lit(2),
    ).cast("int")
    # the monitored conversion is the high-value purchase tail
    # (>= $200): any-purchase is degenerate here — every user converts
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 200)
                ).cast("int")
            ).alias("conv")
        )
        .withColumn("arm", arm)
        .join(c, "user_id")
    )
    g = per_user.groupBy("c_mktsegment").agg(
        F.sum(F.col("arm")).alias("n_treat"),
        F.sum(F.col("arm") * F.col("conv")).alias("conv_treat"),
        F.sum(F.lit(1) - F.col("arm")).alias("n_ctrl"),
        F.sum((F.lit(1) - F.col("arm")) * F.col("conv")).alias("conv_ctrl"),
    )
    # a tiny segment can land every user in one arm — rates are NULL
    # for the empty arm (guards keep ANSI division happy in Spark)
    pt = F.when(
        F.col("n_treat") > 0,
        F.col("conv_treat").cast("double") / F.col("n_treat").cast("double"),
    )
    pc = F.when(
        F.col("n_ctrl") > 0,
        F.col("conv_ctrl").cast("double") / F.col("n_ctrl").cast("double"),
    )
    se = F.sqrt(
        pt * (F.lit(1.0) - pt) / F.col("n_treat").cast("double")
        + pc * (F.lit(1.0) - pc) / F.col("n_ctrl").cast("double")
    )
    return g.select(
        "c_mktsegment",
        "n_treat",
        "conv_treat",
        "n_ctrl",
        "conv_ctrl",
        F.round(pt, 6).alias("rate_treat"),
        F.round(pc, 6).alias("rate_ctrl"),
        F.round(pt - pc, 6).alias("uplift"),
        # se = 0 when both arms sit at 0% or 100% (possible in a tiny
        # segment) — z is undefined there, reported NULL
        F.when(se > 0, F.round((pt - pc) / se, 4)).alias("z"),
    ).orderBy("c_mktsegment")


UPLIFT_BY_SEGMENT_SQL = f"""
WITH per_user AS (
  SELECT e.user_id,
         MAX(CASE WHEN e.event_type = 'purchase' AND e.value >= 200
                  THEN 1 ELSE 0 END) AS conv,
         CAST({hash60_sql("'uplift-v1:' || CAST(e.user_id AS VARCHAR)")} % 2
              AS INT) AS arm
  FROM events e GROUP BY e.user_id
),
joined AS (
  SELECT p.*, c.c_mktsegment
  FROM per_user p JOIN customer c ON c.c_custkey = p.user_id
),
g AS (
  SELECT c_mktsegment,
         SUM(arm) AS n_treat, SUM(arm * conv) AS conv_treat,
         SUM(1 - arm) AS n_ctrl, SUM((1 - arm) * conv) AS conv_ctrl
  FROM joined GROUP BY 1
)
SELECT c_mktsegment, CAST(n_treat AS BIGINT) AS n_treat,
       CAST(conv_treat AS BIGINT) AS conv_treat,
       CAST(n_ctrl AS BIGINT) AS n_ctrl,
       CAST(conv_ctrl AS BIGINT) AS conv_ctrl,
       round(CASE WHEN n_treat > 0
             THEN CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE) END, 6)
         AS rate_treat,
       round(CASE WHEN n_ctrl > 0
             THEN CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE) END, 6)
         AS rate_ctrl,
       round(CASE WHEN n_treat > 0 AND n_ctrl > 0
             THEN CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
             - CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE) END, 6)
         AS uplift,
       CASE WHEN n_treat > 0 AND n_ctrl > 0
             AND sqrt((CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE))
                    * (1.0e0 - CAST(conv_treat AS DOUBLE)
                               / CAST(n_treat AS DOUBLE))
                    / CAST(n_treat AS DOUBLE)
                    + (CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
                      * (1.0e0 - CAST(conv_ctrl AS DOUBLE)
                                 / CAST(n_ctrl AS DOUBLE))
                      / CAST(n_ctrl AS DOUBLE)) > 0
       THEN round((CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
              - CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
             / sqrt((CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE))
                    * (1.0e0 - CAST(conv_treat AS DOUBLE)
                               / CAST(n_treat AS DOUBLE))
                    / CAST(n_treat AS DOUBLE)
                    + (CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
                      * (1.0e0 - CAST(conv_ctrl AS DOUBLE)
                                 / CAST(n_ctrl AS DOUBLE))
                      / CAST(n_ctrl AS DOUBLE)), 4)
       END AS z
FROM g
ORDER BY c_mktsegment
"""

# --- Weibull fit of conversion times ----------------------------------------


def weibull_fit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of OBSERVED signup->purchase conversion times by
    median-rank regression (probability-plot method): ln(-ln(1-F_i))
    on ln(t_i) with Bernard's median ranks F_i = (i-0.3)/(n+0.4) —
    shape k < 1 reads "conversion hazard falls with time: convert them
    early or lose them", k > 1 the opposite; the parametric companion
    of survival_km_conversion's nonparametric curve. Fit uses
    uncensored conversions only (the standard probability-plot
    simplification; censored-aware MLE is the production upgrade),
    documented rather than fudged.

    Shape: two per-user min-aggregations, one rank window over the
    converter set, ONE moment row. Determinism: durations are exact
    integer hours (+1 so ln is defined at 0); ranks are exact under a
    (duration, user_id) tie-broken order; both lns round at 9; moments
    decimal-sum; slope/intercept are fixed chains."""
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
    dur = su.join(pu, "user_id").select(
        "user_id",
        (
            F.floor(
                (
                    F.unix_timestamp("purchase_ts")
                    - F.unix_timestamp("signup_ts")
                )
                / F.lit(3600)
            ).cast("long")
            + F.lit(1)
        ).alias("t_h"),
    )
    wr = Window.orderBy("t_h", "user_id")
    ranked = dur.withColumn("__i", F.row_number().over(wr)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    x = F.round(F.log(F.col("t_h").cast("double")), 9)
    f_i = (F.col("__i").cast("double") - F.lit(0.3)) / (
        F.col("__n").cast("double") + F.lit(0.4)
    )
    y = F.round(F.log(-F.round(F.log(F.lit(1.0) - f_i), 9)), 9)
    snap = lambda c: F.round(c, 9).cast("decimal(28,9)")
    m = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.sum(snap(F.col("x"))).cast("double").alias("__sx"),
        F.sum(snap(F.col("y"))).cast("double").alias("__sy"),
        F.sum(snap(F.col("x") * F.col("y"))).cast("double").alias("__sxy"),
        F.sum(snap(F.col("x") * F.col("x"))).cast("double").alias("__sxx"),
        F.sum(snap(F.col("y") * F.col("y"))).cast("double").alias("__syy"),
    )
    nd = F.col("n_converters").cast("double")
    sxy_c = nd * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    sxx_c = nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    syy_c = nd * F.col("__syy") - F.col("__sy") * F.col("__sy")
    shape = sxy_c / sxx_c
    intercept = (F.col("__sy") - shape * F.col("__sx")) / nd
    return m.select(
        "n_converters",
        F.round(shape, 6).alias("weibull_shape"),
        F.round(F.exp(-intercept / shape), 4).alias("weibull_scale_h"),
        F.round(sxy_c * sxy_c / (sxx_c * syy_c), 6).alias("r2"),
    )


WEIBULL_FIT_CONVERSION_SQL = """
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
dur AS (
  SELECT su.user_id,
         CAST(floor(date_diff('second', su.signup_ts, pu.purchase_ts)
                    / 3600.0e0) AS BIGINT) + 1 AS t_h
  FROM su JOIN pu ON pu.user_id = su.user_id
),
ranked AS (
  SELECT t_h,
         row_number() OVER (ORDER BY t_h, user_id) AS i,
         COUNT(*) OVER () AS n
  FROM dur
),
xy AS (
  SELECT round(ln(CAST(t_h AS DOUBLE)), 9) AS x,
         round(ln(-round(ln(1.0e0 - (CAST(i AS DOUBLE) - 0.3e0)
                             / (CAST(n AS DOUBLE) + 0.4e0)), 9)), 9) AS y
  FROM ranked
),
m AS (
  SELECT COUNT(*) AS n_converters,
         CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syy
  FROM xy
)
SELECT n_converters,
       round((CAST(n_converters AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_converters AS DOUBLE) * sxx - sx * sx), 6)
         AS weibull_shape,
       round(exp(-((sy - ((CAST(n_converters AS DOUBLE) * sxy - sx * sy)
                          / (CAST(n_converters AS DOUBLE) * sxx - sx * sx))
                         * sx) / CAST(n_converters AS DOUBLE))
                 / ((CAST(n_converters AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n_converters AS DOUBLE) * sxx - sx * sx))), 4)
         AS weibull_scale_h,
       round((CAST(n_converters AS DOUBLE) * sxy - sx * sy)
             * (CAST(n_converters AS DOUBLE) * sxy - sx * sy)
             / ((CAST(n_converters AS DOUBLE) * sxx - sx * sx)
                * (CAST(n_converters AS DOUBLE) * syy - sy * sy)), 6) AS r2
FROM m
"""

# --- Hill tail-index estimator ----------------------------------------------

_HILL_K = 100


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index of order values over the
    top-100 order statistics: alpha = k / sum ln(x_i / x_(k+1)) — "how
    heavy is the spend tail" (alpha < 2 means variance is effectively
    infinite and mean-based forecasts are fragile); the heavy-tail
    companion of evt_gumbel_daily's light-tail block-maxima fit, and
    the principled version of eyeballing the ABC head.

    Shape: one global rank window cut at k+1 (TakeOrdered shape), one
    k-row fold. Determinism: cents are exact integers; the ln of each
    exact-integer ratio rounds at 9 and decimal-sums; ties in the rank
    window break by order key."""
    o = read_parquet_table(spark, sf_dir, "orders")
    vals = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        "o_orderkey",
    )
    w = Window.orderBy(F.desc("c"), F.asc("o_orderkey"))
    top = vals.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= _HILL_K + 1
    )
    thresh = top.filter(F.col("__r") == _HILL_K + 1).select(
        F.col("c").alias("__xk1")
    )
    term = F.round(
        F.log(F.col("c").cast("double") / F.col("__xk1").cast("double")), 9
    ).cast("decimal(28,9)")
    folded = (
        top.filter(F.col("__r") <= _HILL_K)
        .crossJoin(F.broadcast(thresh))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.max("__xk1").alias("__xk1"),
            F.sum(term).cast("double").alias("__lsum"),
        )
    )
    alpha = F.col("k").cast("double") / F.col("__lsum")
    return folded.select(
        "k",
        F.round(F.col("__xk1").cast("double") / F.lit(100.0), 2).alias(
            "threshold_value"
        ),
        F.round(alpha, 4).alias("hill_alpha"),
        # lsum/k directly (ONE IEEE division), matching the oracle's
        # chain exactly — 1.0/alpha = 1/(k/lsum) is two roundings and
        # can flip round(..., 6) at a boundary (round-4 ADVICE).
        F.round(
            F.col("__lsum") / F.col("k").cast("double"), 6
        ).alias("tail_xi"),
        (alpha < 2.0).alias("infinite_variance_regime"),
    )


HILL_TAIL_INDEX_SQL = f"""
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
  FROM orders
),
top AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, o_orderkey) AS r
  FROM vals QUALIFY r <= {_HILL_K + 1}
),
thresh AS (SELECT c AS xk1 FROM top WHERE r = {_HILL_K + 1}),
folded AS (
  SELECT COUNT(*) AS k, MAX(t2.xk1) AS xk1,
         CAST(SUM(CAST(round(ln(CAST(t.c AS DOUBLE)
                                 / CAST(t2.xk1 AS DOUBLE)), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS lsum
  FROM top t CROSS JOIN thresh t2
  WHERE t.r <= {_HILL_K}
)
SELECT k,
       round(CAST(xk1 AS DOUBLE) / 100.0e0, 2) AS threshold_value,
       round(CAST(k AS DOUBLE) / lsum, 4) AS hill_alpha,
       round(lsum / CAST(k AS DOUBLE), 6) AS tail_xi,
       CAST(k AS DOUBLE) / lsum < 2.0e0 AS infinite_variance_regime
FROM folded
"""

# --- empirical-Bayes shrinkage ----------------------------------------------


def empirical_bayes_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-part return
    rates: fit the beta prior by method of moments across the part
    catalog, then report each part's raw vs shrunk rate (x + alpha) /
    (n + alpha + beta) — the James-Stein move that stops a 1-for-2
    part from outranking a 40-for-100 part on every "worst returns"
    dashboard.

    Shape: one part-grain conditional count, ONE cross-part moment
    row (the prior), a broadcast join back — part-domain work.
    Determinism: counts exact; per-part rates and both moment sums
    9-snap through decimal; prior and shrinkage are fixed chains."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("x"),
    )
    p = F.col("x").cast("double") / F.col("n").cast("double")
    snap = lambda c: F.round(c, 9).cast("decimal(28,9)")
    mom = per.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum(snap(p)).cast("double").alias("__sp"),
        F.sum(snap(p * p)).cast("double").alias("__sp2"),
    )
    kd = F.col("__k").cast("double")
    m = F.col("__sp") / kd
    v = (F.col("__sp2") - F.col("__sp") * F.col("__sp") / kd) / (kd - F.lit(1.0))
    ab = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    prior = mom.select(
        m.alias("__m"),
        v.alias("__v"),
        (m * ab).alias("__alpha"),
        ((F.lit(1.0) - m) * ab).alias("__beta"),
    )
    j = per.crossJoin(F.broadcast(prior))
    shrunk = (F.col("x").cast("double") + F.col("__alpha")) / (
        F.col("n").cast("double") + F.col("__alpha") + F.col("__beta")
    )
    return j.select(
        "l_partkey",
        "n",
        "x",
        F.round(p, 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.round("__alpha", 4).alias("prior_alpha"),
        F.round("__beta", 4).alias("prior_beta"),
    ).orderBy("l_partkey")


EMPIRICAL_BAYES_RETURNS_SQL = """
WITH per AS (
  SELECT l_partkey, COUNT(*) AS n,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
  FROM lineitem GROUP BY 1
),
mom AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(CAST(round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS sp,
         CAST(SUM(CAST(round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS sp2
  FROM per
),
prior AS (
  SELECT (sp / CAST(k AS DOUBLE))
           * ((sp / CAST(k AS DOUBLE)) * (1.0e0 - sp / CAST(k AS DOUBLE))
              / ((sp2 - sp * sp / CAST(k AS DOUBLE))
                 / (CAST(k AS DOUBLE) - 1.0e0)) - 1.0e0) AS alpha,
         (1.0e0 - sp / CAST(k AS DOUBLE))
           * ((sp / CAST(k AS DOUBLE)) * (1.0e0 - sp / CAST(k AS DOUBLE))
              / ((sp2 - sp * sp / CAST(k AS DOUBLE))
                 / (CAST(k AS DOUBLE) - 1.0e0)) - 1.0e0) AS beta
  FROM mom
)
SELECT p.l_partkey, p.n, CAST(p.x AS BIGINT) AS x,
       round(CAST(p.x AS DOUBLE) / CAST(p.n AS DOUBLE), 6) AS raw_rate,
       round((CAST(p.x AS DOUBLE) + pr.alpha)
             / (CAST(p.n AS DOUBLE) + pr.alpha + pr.beta), 6) AS shrunk_rate,
       round(pr.alpha, 4) AS prior_alpha,
       round(pr.beta, 4) AS prior_beta
FROM per p CROSS JOIN prior pr
ORDER BY p.l_partkey
"""

# --- stratified average treatment effect ------------------------------------


def stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified A/B readout: users stratified into pre-period spend
    quintiles, post-period purchase spend compared between hash arms
    WITHIN each stratum, and the quintile-weighted average treatment
    effect — the blocking/post-stratification design that removes the
    same between-user variance CUPED regresses out, in the
    rank-stratum form experiment platforms actually ship. Per-stratum
    rows expose heterogeneity; the weighted ATE repeats on every row.

    Shape: one per-user conditional cents aggregation, a quintile
    ntile window over the user summary, one stratum-grain conditional
    fold. Determinism: cents are exact; stratum means divide decimal
    sums; the weighted ATE 9-snaps per-stratum terms through
    decimal."""
    e = read_parquet_table(spark, sf_dir, "events")
    arm = F.pmod(
        hash60(F.concat(F.lit("sate-v1:"), F.col("user_id").cast("string"))),
        F.lit(2),
    ).cast("int")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.dayofmonth("ts") <= 15,
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("pre"),
            F.sum(
                F.when(
                    F.dayofmonth("ts") > 15,
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("post"),
        )
        .withColumn("arm", arm)
        .withColumn(
            "stratum", F.ntile(5).over(Window.orderBy("pre", "user_id"))
        )
    )
    per = per_user.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("arm").alias("n_treat"),
        F.sum(F.col("arm") * F.col("post")).alias("__post_t"),
        F.sum((F.lit(1) - F.col("arm")) * F.col("post")).alias("__post_c"),
    )
    nt = F.col("n_treat").cast("double")
    nc = (F.col("n_users") - F.col("n_treat")).cast("double")
    # a tiny stratum can land every user in one arm — its means are
    # NULL and it drops out of the ATE weighting (weights renormalize
    # over the strata with both arms present)
    both = (F.col("n_treat") > 0) & (F.col("n_treat") < F.col("n_users"))
    mean_t = F.when(
        F.col("n_treat") > 0, F.col("__post_t").cast("double") / (nt * F.lit(100.0))
    )
    mean_c = F.when(
        F.col("n_treat") < F.col("n_users"),
        F.col("__post_c").cast("double") / (nc * F.lit(100.0)),
    )
    diff = mean_t - mean_c
    wall = Window.partitionBy()
    valid_n = F.sum(F.when(both, F.col("n_users")).otherwise(0)).over(wall)
    w_term = F.when(
        both,
        F.round(
            diff * F.col("n_users").cast("double") / valid_n.cast("double"), 9
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(28,9)")
    return (
        per.withColumn("__wt", w_term)
        .select(
            "stratum",
            "n_users",
            "n_treat",
            F.round(mean_t, 4).alias("mean_post_treat"),
            F.round(mean_c, 4).alias("mean_post_ctrl"),
            F.round(diff, 4).alias("stratum_effect"),
            F.round(
                F.sum("__wt").over(wall).cast("double"), 4
            ).alias("weighted_ate"),
        )
        .orderBy("stratum")
    )


STRATIFIED_ATE_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN day(ts) <= 15
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS pre,
         SUM(CASE WHEN day(ts) > 15
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS post,
         CAST({hash60_sql("'sate-v1:' || CAST(user_id AS VARCHAR)")} % 2
              AS INT) AS arm
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
strat AS (
  SELECT *, ntile(5) OVER (ORDER BY pre, user_id) AS stratum FROM per_user
),
per AS (
  SELECT stratum, COUNT(*) AS n_users, SUM(arm) AS n_treat,
         SUM(arm * post) AS post_t, SUM((1 - arm) * post) AS post_c
  FROM strat GROUP BY 1
),
tot AS (
  SELECT SUM(CASE WHEN n_treat > 0 AND n_treat < n_users
                  THEN n_users ELSE 0 END) AS n_valid
  FROM per
),
scored AS (
  SELECT p.*, t.n_valid,
         n_treat > 0 AND n_treat < n_users AS both_arms,
         CASE WHEN n_treat > 0 THEN
           CAST(post_t AS DOUBLE) / (CAST(n_treat AS DOUBLE) * 100.0e0)
         END AS mean_t,
         CASE WHEN n_treat < n_users THEN
           CAST(post_c AS DOUBLE)
           / (CAST(n_users - n_treat AS DOUBLE) * 100.0e0)
         END AS mean_c
  FROM per p CROSS JOIN tot t
)
SELECT stratum, n_users, CAST(n_treat AS BIGINT) AS n_treat,
       round(mean_t, 4) AS mean_post_treat,
       round(mean_c, 4) AS mean_post_ctrl,
       round(mean_t - mean_c, 4) AS stratum_effect,
       round(CAST(SUM(CAST(CASE WHEN both_arms THEN round((mean_t - mean_c)
                 * CAST(n_users AS DOUBLE)
                 / CAST(n_valid AS DOUBLE), 9) ELSE 0.0e0 END
             AS DECIMAL(28,9))) OVER () AS DOUBLE), 4) AS weighted_ate
FROM scored
ORDER BY stratum
"""

# --- largest-remainder quota apportionment ----------------------------------

_QUOTA_SLOTS = 100


def quota_apportionment_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hare) apportionment of a fixed 100-slot
    sampling budget across document sources by corpus share — the
    exact-integer answer to "how many docs does each feed contribute
    to a fixed-size eval set" that naive rounding gets wrong (floors
    under-allocate; independent rounding over- or under-shoots the
    total). Every slot count is integer arithmetic: base = (S*n) div
    N, the leftover slots go to the largest remainders (S*n) mod N
    with source-name tie-breaks — allocations always sum EXACTLY to
    the budget (pinned by the replay test).

    Shape: one source-grain count, windows over the source domain.
    Determinism: pure integer division/modulo and an exact-integer
    rank window."""
    d = read_parquet_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    wall = Window.partitionBy()
    t = per.withColumn("__N", F.sum("n_docs").over(wall))
    sn = F.col("n_docs") * F.lit(_QUOTA_SLOTS)
    base = F.floor(sn / F.col("__N")).cast("long")
    rem = sn % F.col("__N")
    t = t.withColumn("__base", base).withColumn("__rem", rem).withColumn(
        "__leftover",
        F.lit(_QUOTA_SLOTS) - F.sum(base).over(wall),
    )
    wrem = Window.orderBy(F.desc("__rem"), F.asc("source"))
    return (
        t.withColumn("__rr", F.row_number().over(wrem))
        .select(
            "source",
            "n_docs",
            F.round(
                sn.cast("double") / F.col("__N").cast("double"), 4
            ).alias("exact_quota"),
            F.col("__base").alias("base_slots"),
            (F.col("__rr") <= F.col("__leftover")).cast("int").alias("extra"),
            (
                F.col("__base")
                + (F.col("__rr") <= F.col("__leftover")).cast("long")
            ).alias("allocated"),
        )
        .orderBy("source")
    )


QUOTA_APPORTIONMENT_SOURCES_SQL = f"""
WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
t AS (
  SELECT *, SUM(n_docs) OVER () AS N,
         (n_docs * {_QUOTA_SLOTS}) // SUM(n_docs) OVER () AS base,
         (n_docs * {_QUOTA_SLOTS}) % SUM(n_docs) OVER () AS rem
  FROM per
),
t2 AS (
  SELECT *, {_QUOTA_SLOTS} - SUM(base) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, source) AS rr
  FROM t
)
SELECT source, n_docs,
       round(CAST(n_docs * {_QUOTA_SLOTS} AS DOUBLE) / CAST(N AS DOUBLE), 4)
         AS exact_quota,
       CAST(base AS BIGINT) AS base_slots,
       CAST(rr <= leftover AS INT) AS extra,
       CAST(base + CAST(rr <= leftover AS BIGINT) AS BIGINT) AS allocated
FROM t2
ORDER BY source
"""

# --- Wilson confidence intervals --------------------------------------------

_WILSON_Z = 1.959963984540054  # 97.5th normal percentile, pinned literal


def wilson_ci_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% confidence intervals for per-segment high-value
    conversion — the interval that behaves at small n and extreme
    rates where the naive p +/- z*sqrt(pq/n) collapses or leaves
    [0,1]; the uncertainty companion of uplift_by_segment's point
    contrast.

    Shape: the per-user conversion fold, a segment join, ONE
    segment-grain aggregation and fixed IEEE chains (one sqrt) with
    the z constant pinned as an exact double literal."""
    e = read_parquet_table(spark, sf_dir, "events")
    c = read_parquet_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 200)
                ).cast("int")
            ).alias("conv")
        )
        .join(c, "user_id")
    )
    g = per_user.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("conv")
    )
    nd = F.col("n").cast("double")
    p = F.col("conv").cast("double") / nd
    z = F.lit(_WILSON_Z)
    z2n = z * z / nd
    center = (p + z2n / F.lit(2.0)) / (F.lit(1.0) + z2n)
    half = (
        z
        * F.sqrt(p * (F.lit(1.0) - p) / nd + z2n / (F.lit(4.0) * nd))
        / (F.lit(1.0) + z2n)
    )
    return g.select(
        "c_mktsegment",
        "n",
        "conv",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    ).orderBy("c_mktsegment")


WILSON_CI_SEGMENTS_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 200
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
g AS (
  SELECT c.c_mktsegment, COUNT(*) AS n, SUM(p.conv) AS conv
  FROM per_user p JOIN customer c ON c.c_custkey = p.user_id
  GROUP BY 1
)
SELECT c_mktsegment, n, CAST(conv AS BIGINT) AS conv,
       round(CAST(conv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
       round(((CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
              + ({_WILSON_Z!r} * {_WILSON_Z!r} / CAST(n AS DOUBLE)) / 2.0e0)
             / (1.0e0 + {_WILSON_Z!r} * {_WILSON_Z!r} / CAST(n AS DOUBLE))
             - {_WILSON_Z!r}
               * sqrt((CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0e0 - CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + ({_WILSON_Z!r} * {_WILSON_Z!r} / CAST(n AS DOUBLE))
                        / (4.0e0 * CAST(n AS DOUBLE)))
               / (1.0e0 + {_WILSON_Z!r} * {_WILSON_Z!r} / CAST(n AS DOUBLE)),
             6) AS wilson_lo,
       round(((CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
              + ({_WILSON_Z!r} * {_WILSON_Z!r} / CAST(n AS DOUBLE)) / 2.0e0)
             / (1.0e0 + {_WILSON_Z!r} * {_WILSON_Z!r} / CAST(n AS DOUBLE))
             + {_WILSON_Z!r}
               * sqrt((CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0e0 - CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + ({_WILSON_Z!r} * {_WILSON_Z!r} / CAST(n AS DOUBLE))
                        / (4.0e0 * CAST(n AS DOUBLE)))
               / (1.0e0 + {_WILSON_Z!r} * {_WILSON_Z!r} / CAST(n AS DOUBLE)),
             6) AS wilson_hi
FROM g
ORDER BY c_mktsegment
"""

# --- intraclass correlation & design effect ---------------------------------


def icc_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation of order values within CUSTOMERS
    (one-way random-effects ANOVA estimator) and the survey design
    effect deff = 1 + (avg cluster size - 1)*ICC — "how much does
    sampling whole customers instead of random orders inflate
    variance", the cluster-sampling correction every panel-based
    estimate needs (and the formal justification for the repo's
    customer-level A/B units).

    Shape: one customer-grain moment aggregation, ONE fold.
    Determinism: per-cluster sums/squares are exact decimals;
    S_i^2/n_i terms floor-snap to integral cents^2 before decimal
    accumulation (magnitudes ~1e15 make fractional parts irrelevant
    and the integral snap engine-portable); the ANOVA chain is
    fixed."""
    o = read_parquet_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")).alias(
            "__si"
        ),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
            * F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("__s2i"),
    )
    # S_i^2/n_i as an integral-snapped double (ulp > 1 at this
    # magnitude, so floor(x+0.5) is the identity-on-grid snap)
    ratio = F.floor(
        F.col("__si").cast("double") * F.col("__si").cast("double")
        / F.col("ni").cast("double")
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    m = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ni").alias("n_total"),
        F.sum(F.col("ni") * F.col("ni")).alias("__sn2"),
        F.sum("__si").alias("__s"),
        F.sum("__s2i").alias("__s2"),
        F.sum(ratio).alias("__sbr"),
    )
    nd = F.col("n_total").cast("double")
    kd = F.col("k").cast("double")
    grand = F.col("__s").cast("double") * F.col("__s").cast("double") / nd
    ssb = F.col("__sbr").cast("double") - grand
    ssw = F.col("__s2").cast("double") - F.col("__sbr").cast("double")
    msb = ssb / (kd - F.lit(1.0))
    msw = ssw / (nd - kd)
    n0 = (nd - F.col("__sn2").cast("double") / nd) / (kd - F.lit(1.0))
    icc = (msb - msw) / (msb + (n0 - F.lit(1.0)) * msw)
    mbar = nd / kd
    return m.select(
        "k",
        "n_total",
        F.round(mbar, 4).alias("mean_cluster_size"),
        F.round(icc, 6).alias("icc"),
        F.round(F.lit(1.0) + (mbar - F.lit(1.0)) * icc, 4).alias("deff"),
    )


ICC_DESIGN_EFFECT_SQL = """
WITH per AS (
  SELECT o_custkey, COUNT(*) AS ni,
         SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS si,
         SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))
             * CAST(round(o_totalprice * 100) AS BIGINT)) AS s2i
  FROM orders GROUP BY 1
),
m AS (
  SELECT COUNT(*) AS k, SUM(ni) AS n_total,
         SUM(ni * ni) AS sn2,
         SUM(si) AS s, SUM(s2i) AS s2,
         SUM(CAST(floor(CAST(CAST(si AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(si AS VARCHAR) AS DOUBLE)
                        / CAST(ni AS DOUBLE) + 0.5e0)
                  AS DECIMAL(38,0))) AS sbr
  FROM per
),
fit AS (
  SELECT k, n_total,
         CAST(n_total AS DOUBLE) / CAST(k AS DOUBLE) AS mbar,
         (CAST(CAST(sbr AS VARCHAR) AS DOUBLE)
          - CAST(CAST(s AS VARCHAR) AS DOUBLE)
            * CAST(CAST(s AS VARCHAR) AS DOUBLE)
            / CAST(n_total AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0e0) AS msb,
         (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
          - CAST(CAST(sbr AS VARCHAR) AS DOUBLE))
           / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE)) AS msw,
         (CAST(n_total AS DOUBLE)
          - CAST(CAST(sn2 AS VARCHAR) AS DOUBLE) / CAST(n_total AS DOUBLE))
           / (CAST(k AS DOUBLE) - 1.0e0) AS n0
  FROM m
)
SELECT k, CAST(n_total AS BIGINT) AS n_total,
       round(mbar, 4) AS mean_cluster_size,
       round((msb - msw) / (msb + (n0 - 1.0e0) * msw), 6) AS icc,
       round(1.0e0 + (mbar - 1.0e0)
             * ((msb - msw) / (msb + (n0 - 1.0e0) * msw)), 4) AS deff
FROM fit
"""


QUERIES = {
    "log_rank_conversion": log_rank_conversion,
    "overdispersion_events": overdispersion_events,
    "g_test_independence": g_test_independence,
    "evt_gumbel_daily": evt_gumbel_daily,
    "burstiness_interevent": burstiness_interevent,
    "lorenz_curve_deciles": lorenz_curve_deciles,
    "cochran_armitage_trend": cochran_armitage_trend,
    "mcnemar_halves": mcnemar_halves,
    "uplift_by_segment": uplift_by_segment,
    "weibull_fit_conversion": weibull_fit_conversion,
    "hill_tail_index": hill_tail_index,
    "empirical_bayes_returns": empirical_bayes_returns,
    "stratified_ate": stratified_ate,
    "quota_apportionment_sources": quota_apportionment_sources,
    "wilson_ci_segments": wilson_ci_segments,
    "icc_design_effect": icc_design_effect,
}

ORACLES = {
    "log_rank_conversion": LOG_RANK_CONVERSION_SQL,
    "overdispersion_events": OVERDISPERSION_EVENTS_SQL,
    "g_test_independence": G_TEST_INDEPENDENCE_SQL,
    "evt_gumbel_daily": EVT_GUMBEL_DAILY_SQL,
    "burstiness_interevent": BURSTINESS_INTEREVENT_SQL,
    "lorenz_curve_deciles": LORENZ_CURVE_DECILES_SQL,
    "cochran_armitage_trend": COCHRAN_ARMITAGE_TREND_SQL,
    "mcnemar_halves": MCNEMAR_HALVES_SQL,
    "uplift_by_segment": UPLIFT_BY_SEGMENT_SQL,
    "weibull_fit_conversion": WEIBULL_FIT_CONVERSION_SQL,
    "hill_tail_index": HILL_TAIL_INDEX_SQL,
    "empirical_bayes_returns": EMPIRICAL_BAYES_RETURNS_SQL,
    "stratified_ate": STRATIFIED_ATE_SQL,
    "quota_apportionment_sources": QUOTA_APPORTIONMENT_SOURCES_SQL,
    "wilson_ci_segments": WILSON_CI_SEGMENTS_SQL,
    "icc_design_effect": ICC_DESIGN_EFFECT_SQL,
}

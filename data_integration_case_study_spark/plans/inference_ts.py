"""Time-series diagnostics and business-series decompositions over the
daily order-revenue series — one of the four inference plan modules
(inference_stats, inference_ts, inference_eval, inference_rec)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.numeric import dsum
from data_integration_case_study_spark.sources.readers import read_parquet_table
from pyspark.sql import DataFrame, SparkSession, Window
from data_integration_case_study_spark.functions.numeric import dsum
from data_integration_case_study_spark.sources.readers import read_parquet_table


# --- shared scaffolds --------------------------------------------------------


def _daily_order_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily order-revenue series as exact integer cents — the
    shared substrate of every time-series diagnostic in this module
    (AR(1), Dickey-Fuller, Ljung-Box, periodogram, Hurst, control
    chart). One definition so the decimal/overflow discipline of the
    cents aggregation is audited in one place."""
    o = read_parquet_table(spark, sf_dir, "orders")
    return o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)"))
        .cast("long")
        .alias("cents")
    )

# --- AR(1) Yule-Walker forecast backtest ------------------------------------


def ar1_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) forecaster fit by Yule-Walker on the daily order-revenue
    series and backtested one-step-ahead against the naive persistence
    forecast — the minimal autoregressive baseline a forecasting stack
    keeps beside seasonal_naive_backtest: phi = acf(1) (the lag-1
    autocovariance ratio acf_daily_revenue already reads), forecast
    x_t = mean + phi*(x_{{t-1}} - mean) on consecutive-day pairs, with
    MAE/RMSE and the skill vs naive (1 - mae_ar1/mae_naive).

    Shape: ONE daily cents aggregation over the fact table; the
    residual series (thousands of rows) self-joins on exact day+1
    offsets — day-grid work, negligible beside the scan.

    Determinism: the series is exact integer cents; residuals are
    scaled integers r_t = n*x_t - s (exact, no division —
    acf_daily_revenue's trick); gamma sums accumulate in DECIMAL(38,0);
    phi is one double division of correctly-rounded casts; per-pair
    AR(1) errors e = (r_t - phi*r_lag)/n are fixed IEEE chains snapped
    through ``dsum`` at scale 6; the naive error |r_t - r_lag| stays
    EXACT decimal all the way to the final division."""
    daily = _daily_order_cents(spark, sf_dir)
    tot = daily.agg(F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__s"))
    resid = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        F.col("__n"),
        (F.col("__n") * F.col("cents") - F.col("__s"))
        .cast("decimal(19,0)")
        .alias("r"),
    )
    gam = resid.agg(
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,0)").alias("__g0"),
        F.count(F.lit(1)).alias("n_days"),
        F.max("__n").alias("__n"),
    )
    rb = resid.select(F.col("d").alias("d2"), F.col("r").alias("r2"))
    pairs = resid.join(rb, F.expr("d = date_add(d2, 1)")).select(
        "d", F.col("__n"), F.col("r"), F.col("r2").alias("r_lag")
    )
    g1 = pairs.agg(
        F.sum(F.col("r") * F.col("r_lag")).cast("decimal(38,0)").alias("__g1")
    )
    phi_frame = gam.crossJoin(F.broadcast(g1)).select(
        "n_days",
        F.col("__n"),
        (F.col("__g1").cast("double") / F.col("__g0").cast("double")).alias("phi"),
    )
    nd = F.col("__n").cast("double")
    e_ar1 = (F.col("r").cast("double") - F.col("phi") * F.col("r_lag").cast("double")) / nd
    backtest = (
        pairs.crossJoin(F.broadcast(phi_frame.select("phi")))
        .select(
            F.col("__n"),
            e_ar1.alias("__e"),
            F.abs(F.col("r") - F.col("r_lag")).alias("__abs_naive"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dsum(F.abs(F.col("__e")), 6).alias("__sae"),
            dsum(F.col("__e") * F.col("__e"), 6).alias("__sse"),
            F.sum("__abs_naive").cast("decimal(38,0)").alias("__san"),
            F.max("__n").alias("__n"),
        )
    )
    npd = F.col("n_pairs").cast("double")
    n2d = F.col("__n").cast("double")
    mae_ar1 = F.col("__sae") / npd
    mae_naive = F.col("__san").cast("double") / (npd * n2d)
    return backtest.crossJoin(F.broadcast(phi_frame.select("n_days", "phi"))).select(
        "n_days",
        "n_pairs",
        F.round("phi", 6).alias("phi"),
        F.round(mae_ar1, 4).alias("mae_ar1"),
        F.round(F.sqrt(F.col("__sse") / npd), 4).alias("rmse_ar1"),
        F.round(mae_naive, 4).alias("mae_naive"),
        F.round(F.lit(1.0) - mae_ar1 / mae_naive, 6).alias("skill_vs_naive"),
    )


AR1_FORECAST_BACKTEST_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily),
resid AS (
  SELECT d, t.n, CAST(t.n * cents - t.s AS DECIMAL(19,0)) AS r
  FROM daily CROSS JOIN tot t
),
gam AS (
  SELECT CAST(SUM(r * r) AS DECIMAL(38,0)) AS g0, COUNT(*) AS n_days,
         MAX(n) AS n
  FROM resid
),
pairs AS (
  SELECT a.d, a.n, a.r, b.r AS r_lag
  FROM resid a JOIN resid b ON a.d = b.d + 1
),
phi AS (
  SELECT g.n_days, g.n,
         CAST(CAST((SELECT CAST(SUM(r * r_lag) AS DECIMAL(38,0)) FROM pairs)
                   AS VARCHAR) AS DOUBLE)
           / CAST(CAST(g.g0 AS VARCHAR) AS DOUBLE) AS phi
  FROM gam g
),
errs AS (
  SELECT p.n,
         (CAST(p.r AS DOUBLE) - ph.phi * CAST(p.r_lag AS DOUBLE))
           / CAST(p.n AS DOUBLE) AS e,
         ABS(p.r - p.r_lag) AS abs_naive
  FROM pairs p CROSS JOIN phi ph
),
folded AS (
  SELECT COUNT(*) AS n_pairs,
         CAST(CAST(SUM(CAST(ABS(e) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
           AS sae,
         CAST(CAST(SUM(CAST(e * e AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
           AS sse,
         CAST(SUM(CAST(abs_naive AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS san,
         MAX(n) AS n
  FROM errs
)
SELECT ph.n_days, f.n_pairs, round(ph.phi, 6) AS phi,
       round(f.sae / CAST(f.n_pairs AS DOUBLE), 4) AS mae_ar1,
       round(sqrt(f.sse / CAST(f.n_pairs AS DOUBLE)), 4) AS rmse_ar1,
       round(CAST(CAST(f.san AS VARCHAR) AS DOUBLE)
             / (CAST(f.n_pairs AS DOUBLE) * CAST(f.n AS DOUBLE)), 4)
         AS mae_naive,
       round(1.0e0 - (f.sae / CAST(f.n_pairs AS DOUBLE))
             / (CAST(CAST(f.san AS VARCHAR) AS DOUBLE)
                / (CAST(f.n_pairs AS DOUBLE) * CAST(f.n AS DOUBLE))), 6)
         AS skill_vs_naive
FROM folded f CROSS JOIN phi ph
"""

# --- Dickey-Fuller unit-root test -------------------------------------------

# MacKinnon 5% critical value for the constant-only DF regression
_DF_CRIT_5PCT = -2.86


def dickey_fuller_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test on the daily order-revenue series
    (constant-only form, via the demeaned series): rho =
    sum r_(t-1)*delta_r / sum r_(t-1)^2 on consecutive-day pairs,
    t = rho/se with se from the regression residuals — "is this
    series mean-reverting or a random walk", the stationarity gate
    before trend/ACF/AR models are trusted (acf_daily_revenue,
    ar1_forecast_backtest read the same series).

    Shape: ONE daily aggregation; day-grid self-join on day+1 —
    identical substrate to ar1_forecast_backtest.

    Determinism: residuals are scaled integers n*x_t - s (exact); both
    regression sums are exact DECIMAL(38,0); rho is one double
    division of VARCHAR-routed casts; the residual variance
    accumulates via ``dsum`` at scale 6; sqrt is IEEE-exact."""
    daily = _daily_order_cents(spark, sf_dir)
    tot = daily.agg(F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__s"))
    resid = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        F.col("__n"),
        (F.col("__n") * F.col("cents") - F.col("__s"))
        .cast("decimal(19,0)")
        .alias("r"),
    )
    rb = resid.select(F.col("d").alias("d2"), F.col("r").alias("r_lag"))
    pairs = resid.join(rb, F.expr("d = date_add(d2, 1)")).select(
        F.col("__n"), F.col("r"), F.col("r_lag")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("__n").alias("__n"),
        F.sum(F.col("r_lag") * (F.col("r") - F.col("r_lag")))
        .cast("decimal(38,0)")
        .alias("__sxy"),
        F.sum(F.col("r_lag") * F.col("r_lag")).cast("decimal(38,0)").alias("__sxx"),
    )
    rho_f = sums.select(
        "n_pairs",
        "__n",
        "__sxx",
        (F.col("__sxy").cast("double") / F.col("__sxx").cast("double")).alias("rho"),
    )
    nd = F.col("__n").cast("double")
    e = (
        (F.col("r") - F.col("r_lag")).cast("double")
        - F.col("rho") * F.col("r_lag").cast("double")
    ) / nd
    folded = (
        pairs.crossJoin(F.broadcast(rho_f.select("rho")))
        .select(e.alias("__e"))
        .agg(dsum(F.col("__e") * F.col("__e"), 6).alias("__sse"))
    )
    out = rho_f.crossJoin(F.broadcast(folded))
    npd = F.col("n_pairs").cast("double")
    s2 = F.col("__sse") / (npd - F.lit(1.0))
    # se(rho)^2 = s^2 / sum(u_lag^2) with u = r/n  =>  s^2 * n^2 / Sxx
    se = F.sqrt(
        s2 * (F.col("__n").cast("double") * F.col("__n").cast("double"))
        / F.col("__sxx").cast("double")
    )
    t_stat = F.col("rho") / se
    return out.select(
        "n_pairs",
        F.round("rho", 6).alias("rho"),
        F.round(t_stat, 4).alias("t_stat"),
        F.lit(_DF_CRIT_5PCT).alias("crit_5pct"),
        (t_stat < F.lit(_DF_CRIT_5PCT)).alias("is_stationary"),
    )


DICKEY_FULLER_DAILY_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily),
resid AS (
  SELECT d, t.n, CAST(t.n * cents - t.s AS DECIMAL(19,0)) AS r
  FROM daily CROSS JOIN tot t
),
pairs AS (
  SELECT a.n, a.r, b.r AS r_lag
  FROM resid a JOIN resid b ON a.d = b.d + 1
),
sums AS (
  SELECT COUNT(*) AS n_pairs, MAX(n) AS n,
         CAST(SUM(r_lag * (r - r_lag)) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(r_lag * r_lag) AS DECIMAL(38,0)) AS sxx
  FROM pairs
),
rho_f AS (
  SELECT n_pairs, n, sxx,
         CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
           / CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS rho
  FROM sums
),
folded AS (
  SELECT CAST(CAST(SUM(CAST(
           ((CAST(p.r - p.r_lag AS DOUBLE) - rf.rho * CAST(p.r_lag AS DOUBLE))
            / CAST(p.n AS DOUBLE))
           * ((CAST(p.r - p.r_lag AS DOUBLE) - rf.rho * CAST(p.r_lag AS DOUBLE))
              / CAST(p.n AS DOUBLE)) AS DECIMAL(38,6)))
         AS VARCHAR) AS DOUBLE) AS sse
  FROM pairs p CROSS JOIN rho_f rf
)
SELECT rf.n_pairs, round(rf.rho, 6) AS rho,
       round(rf.rho / sqrt((f.sse / (CAST(rf.n_pairs AS DOUBLE) - 1.0e0))
             * (CAST(rf.n AS DOUBLE) * CAST(rf.n AS DOUBLE))
             / CAST(CAST(rf.sxx AS VARCHAR) AS DOUBLE)), 4) AS t_stat,
       CAST({_DF_CRIT_5PCT!r} AS DOUBLE) AS crit_5pct,
       rf.rho / sqrt((f.sse / (CAST(rf.n_pairs AS DOUBLE) - 1.0e0))
             * (CAST(rf.n AS DOUBLE) * CAST(rf.n AS DOUBLE))
             / CAST(CAST(rf.sxx AS VARCHAR) AS DOUBLE)) < {_DF_CRIT_5PCT!r}
         AS is_stationary
FROM rho_f rf CROSS JOIN folded f
"""

# --- Ljung-Box portmanteau test ---------------------------------------------

_LB_LAGS = 10
_LB_CRIT_5PCT = 18.307  # chi-square 95th percentile, 10 dof


def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily order-revenue series:
    Q = n(n+2) * sum_{k=1..10} rho_k^2/(n-k) against chi2(10) — "is
    there ANY autocorrelation structure left", the whiteness gate run
    after a forecaster's residuals (and the joint companion of the
    single-lag durbin_watson_monthly). rho_k is acf_daily_revenue's
    calendar-join estimator, restated here so one fold emits the
    statistic.

    Shape: ONE daily aggregation; the lag joins run on the day grid.
    Determinism: residuals/lag products are exact decimals; each
    rho_k^2/(n-k) term is a fixed IEEE chain rounded at 9 and
    decimal-summed; n(n+2) is exact."""
    daily = _daily_order_cents(spark, sf_dir)
    tot = daily.agg(F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__s"))
    resid = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        F.col("__n"),
        (F.col("__n") * F.col("cents") - F.col("__s"))
        .cast("decimal(19,0)")
        .alias("r"),
    )
    den = resid.agg(
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,0)").alias("__den"),
        F.max("__n").alias("__n"),
    )
    lags = spark.range(1, _LB_LAGS + 1).select(F.col("id").cast("int").alias("lag"))
    rb = resid.select(F.col("d").alias("d2"), F.col("r").alias("r2"))
    rho = (
        resid.crossJoin(F.broadcast(lags))
        .join(rb, F.expr("d2 = date_add(d, lag)"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("r") * F.col("r2")).cast("decimal(38,0)").alias("__num")
        )
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            "__n",
            (
                F.col("__num").cast("double") / F.col("__den").cast("double")
            ).alias("rho"),
        )
    )
    nd = F.col("__n").cast("double")
    term = F.round(
        F.col("rho") * F.col("rho") / (nd - F.col("lag").cast("double")), 9
    ).cast("decimal(28,9)")
    folded = rho.agg(
        F.max("__n").alias("n_days"),
        F.count(F.lit(1)).alias("dof"),
        F.sum(term).cast("double").alias("__tsum"),
    )
    q = (
        F.col("n_days").cast("double")
        * (F.col("n_days").cast("double") + F.lit(2.0))
        * F.col("__tsum")
    )
    return folded.select(
        "n_days",
        "dof",
        F.round(q, 4).alias("q_stat"),
        F.lit(_LB_CRIT_5PCT).alias("crit_5pct"),
        (q > F.lit(_LB_CRIT_5PCT)).alias("reject_whiteness"),
    )


LJUNG_BOX_DAILY_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily),
resid AS (
  SELECT d, t.n, CAST(t.n * cents - t.s AS DECIMAL(19,0)) AS r
  FROM daily CROSS JOIN tot t
),
den AS (SELECT CAST(SUM(r * r) AS DECIMAL(38,0)) AS den, MAX(n) AS n FROM resid),
lags AS (SELECT unnest(generate_series(1, {_LB_LAGS})) AS lag),
rho AS (
  SELECT l.lag, dn.n,
         CAST(CAST(CAST(SUM(a.r * b.r) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(dn.den AS VARCHAR) AS DOUBLE) AS rho
  FROM resid a CROSS JOIN lags l
  JOIN resid b ON b.d = a.d + CAST(l.lag AS INT)
  CROSS JOIN den dn
  GROUP BY l.lag, dn.n, dn.den
),
folded AS (
  SELECT MAX(n) AS n_days, COUNT(*) AS dof,
         CAST(SUM(CAST(round(rho * rho
                 / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)), 9)
               AS DECIMAL(28,9))) AS DOUBLE) AS tsum
  FROM rho
)
SELECT n_days, dof,
       round(CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0e0) * tsum,
             4) AS q_stat,
       CAST({_LB_CRIT_5PCT!r} AS DOUBLE) AS crit_5pct,
       CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0e0) * tsum
         > {_LB_CRIT_5PCT!r} AS reject_whiteness
FROM folded
"""

# --- periodogram of the daily revenue series --------------------------------

import math as _math

_PGRAM_PERIODS = list(range(2, 15))


def periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram of daily order revenue at candidate periods
    2..14 days: spectral power P(p) = (sum r_t cos(2*pi*t/p))^2 +
    (sum r_t sin(2*pi*t/p))^2 over the demeaned series — the frequency-
    domain seasonality detector (a weekly cycle peaks at p=7) that
    complements acf_daily_revenue (lag domain) and
    seasonal_decompose_daily (which ASSUMES the weekly period; the
    periodogram is how you justify that assumption).

    Shape: ONE daily aggregation; 13 folds over the day grid (one per
    period), each a calendar-domain aggregation. Determinism: the
    trig basis is PRECOMPUTED python double literals per (period,
    phase) — no cross-engine cos/sin; residuals are exact scaled
    integers; each r*cos product is a fixed IEEE chain snapped to
    DECIMAL(38,4) before summation; the peak flag breaks power ties
    toward the shorter period."""
    daily = _daily_order_cents(spark, sf_dir)
    tot = daily.agg(F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__s"))
    wd = Window.orderBy("d")
    resid = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("t", F.row_number().over(wd) - F.lit(1))
        .select(
            "t",
            F.col("__n"),
            # u_t = x_t - mean, exact to 1/n of a cent as (n*x - s)/n
            (
                (F.col("__n") * F.col("cents") - F.col("__s")).cast("double")
                / F.col("__n").cast("double")
            ).alias("u"),
        )
    )
    outs = []
    for p in _PGRAM_PERIODS:
        cosv = [_math.cos(2 * _math.pi * k / p) for k in range(p)]
        sinv = [_math.sin(2 * _math.pi * k / p) for k in range(p)]
        idx = (F.col("t") % p).cast("int") + F.lit(1)
        c = F.element_at(F.array(*[F.lit(v) for v in cosv]), idx)
        s = F.element_at(F.array(*[F.lit(v) for v in sinv]), idx)
        # snap on the 2^14 integer grid: a POWER-OF-TWO scale is an
        # exact exponent shift, so fused-multiply-add contraction in
        # either engine cannot move a value across the floor boundary
        # (a 1e4 grid flipped one term by 1 ulp at sf0.1); fractional
        # DECIMAL casts are not portable either — the label_centroids
        # lesson
        agg = resid.agg(
            F.max("__n").alias("__n"),
            (
                F.sum(
                    F.floor(F.col("u") * c * F.lit(16384.0) + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(16384.0)
            ).alias("__sc"),
            (
                F.sum(
                    F.floor(F.col("u") * s * F.lit(16384.0) + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(16384.0)
            ).alias("__ss"),
        )
        outs.append(
            agg.select(
                F.lit(p).alias("period"),
                (
                    (
                        F.col("__sc") * F.col("__sc")
                        + F.col("__ss") * F.col("__ss")
                    )
                    / F.col("__n").cast("double")
                ).alias("power"),
            )
        )
    res = outs[0]
    for x in outs[1:]:
        res = res.unionByName(x)
    wall = Window.partitionBy()
    wpk = Window.orderBy(F.desc("power"), F.asc("period"))
    return (
        res.withColumn(
            "power_frac",
            F.round(
                F.col("power")
                / F.sum(
                    F.floor(F.col("power") + F.lit(0.5)).cast("decimal(38,0)")
                )
                .over(wall)
                .cast("double"),
                6,
            ),
        )
        .withColumn("is_peak", F.row_number().over(wpk) == 1)
        # power is a deterministic double but ~1e15: round(x, 2) at that
        # magnitude is beyond double precision and the engines' rounding
        # paths disagree — emit the raw value (bit-identical by
        # construction)
        .select("period", "power", "power_frac", "is_peak")
        .orderBy("period")
    )


def _periodogram_sql() -> str:
    def _dlit(v: float) -> str:
        # DuckDB parses bare decimal literals as DECIMAL and silently
        # promotes the whole chain to exact decimal arithmetic (floor
        # boundaries then disagree with double math) — e-notation is
        # the portable double spelling (the logreg lesson)
        r = repr(v)
        return r if ("e" in r or "E" in r) else r + "e0"

    period_selects = []
    for p in _PGRAM_PERIODS:
        cosv = ", ".join(
            _dlit(_math.cos(2 * _math.pi * k / p)) for k in range(p)
        )
        sinv = ", ".join(
            _dlit(_math.sin(2 * _math.pi * k / p)) for k in range(p)
        )
        period_selects.append(f"""
SELECT {p} AS period,
       (sc * sc + ss * ss) / CAST(n AS DOUBLE) AS power
FROM (
  SELECT MAX(n) AS n,
         CAST(CAST(SUM(CAST(floor(u * ([{cosv}])[(t % {p}) + 1] * 16384.0e0 + 0.5e0)
                       AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 16384.0e0 AS sc,
         CAST(CAST(SUM(CAST(floor(u * ([{sinv}])[(t % {p}) + 1] * 16384.0e0 + 0.5e0)
                       AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 16384.0e0 AS ss
  FROM resid
)""")
    union = "\nUNION ALL\n".join(period_selects)
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily),
resid AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY d) - 1 AS t, tt.n,
         CAST(tt.n * cents - tt.s AS DOUBLE) / CAST(tt.n AS DOUBLE) AS u
  FROM daily CROSS JOIN tot tt
),
powers AS ({union})
SELECT period, power,
       round(power / CAST(CAST(SUM(CAST(floor(power + 0.5e0) AS DECIMAL(38,0)))
                          OVER () AS VARCHAR) AS DOUBLE), 6) AS power_frac,
       row_number() OVER (ORDER BY power DESC, period) = 1 AS is_peak
FROM powers
ORDER BY period
"""

# --- Hurst exponent via rescaled range --------------------------------------

_HURST_SIZES = [8, 16, 32]


def hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily order revenue by classical rescaled-range
    (R/S) analysis: split the day-indexed series into complete blocks
    of m in {8, 16, 32}, per block compute R/S (range of cumulative
    mean deviations over the population sd), and fit H as the OLS
    slope of mean ln(R/S) on ln(m) — H ~ 0.5 is a memoryless walk,
    H >> 0.5 long-range persistence (trends compound), H << 0.5
    mean-reversion; the long-memory companion of acf/Ljung-Box (which
    only see fixed finite lags).

    Shape: three passes over the day grid (one per block size), each a
    per-block window + aggregation; the fit folds 3 points.
    Determinism: within a block, m*W_j = m*cumsum(x) - j*sum(x) is an
    EXACT integer, so R*m is exact; (S*m)^2 = m*sum(x^2) - sum(x)^2 is
    exact; R/S = Rm/sqrt(exact) is one sqrt + one division; ln(R/S)
    rounds at 9 and decimal-averages per size; the 3-point slope is a
    fixed chain over pinned ln(m) literals."""
    daily = _daily_order_cents(spark, sf_dir)
    wd = Window.orderBy("d")
    idx = daily.withColumn("t", F.row_number().over(wd) - F.lit(1))
    per_size = []
    for m in _HURST_SIZES:
        blk = idx.withColumn("blk", F.floor(F.col("t") / m)).withColumn(
            "j", (F.col("t") % m) + F.lit(1)
        )
        wb = Window.partitionBy("blk").orderBy("j")
        wfull = Window.partitionBy("blk")
        stats = (
            blk.withColumn("__cum", F.sum("cents").over(wb.rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("__sb", F.sum("cents").over(wfull))
            # cents^2 overflows BIGINT (7e9 cents at sf0.1 squares to
            # 5e19) — stage the square through decimal
            .withColumn(
                "__s2b",
                F.sum(
                    F.col("cents").cast("decimal(38,0)") * F.col("cents")
                ).over(wfull),
            )
            .withColumn("__cnt", F.count(F.lit(1)).over(wfull))
            .filter(F.col("__cnt") == m)
            # m*W_j = m*cum_j - j*S_b : exact integers
            .withColumn(
                "__mw", F.lit(m) * F.col("__cum") - F.col("j") * F.col("__sb")
            )
        )
        rs = (
            stats.groupBy("blk")
            .agg(
                F.max("__mw").alias("__mx"),
                F.min("__mw").alias("__mn"),
                F.max("__sb").alias("__sb"),
                F.max("__s2b").alias("__s2b"),
            )
            # (S*m)^2 = m * (m*S2 - Sb^2) : exact; R*m = mx - mn exact
            .withColumn(
                "__sm2",
                (
                    F.lit(m)
                    * (
                        F.lit(m) * F.col("__s2b")
                        - F.col("__sb").cast("decimal(38,0)") * F.col("__sb")
                    )
                ).cast("decimal(38,0)"),
            )
            .filter(F.col("__sm2") > 0)
            .withColumn(
                "__rs",
                (F.col("__mx") - F.col("__mn")).cast("double")
                / F.sqrt(F.col("__sm2").cast("double")),
            )
        )
        per_size.append(
            rs.agg(
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum(
                    F.round(F.log("__rs"), 9).cast("decimal(28,9)")
                ).alias("__lsum"),
            ).select(
                F.lit(m).alias("m"),
                F.lit(float(_math.log(m))).alias("__lm"),
                "n_blocks",
                (
                    F.col("__lsum").cast("double")
                    / F.col("n_blocks").cast("double")
                ).alias("mean_log_rs"),
            )
        )
    res = per_size[0]
    for x in per_size[1:]:
        res = res.unionByName(x)
    wall = Window.partitionBy()
    # 3-point OLS slope: H = sum((lm - mean_lm)*y) / sum((lm - mean_lm)^2)
    k = len(_HURST_SIZES)
    mean_lm = sum(_math.log(m) for m in _HURST_SIZES) / k
    sxx = sum((_math.log(m) - mean_lm) ** 2 for m in _HURST_SIZES)
    h = (
        F.sum(
            F.round(
                (F.col("__lm") - F.lit(mean_lm)) * F.col("mean_log_rs"), 9
            ).cast("decimal(28,9)")
        )
        .over(wall)
        .cast("double")
        / F.lit(sxx)
    )
    return res.select(
        "m",
        "n_blocks",
        F.round("mean_log_rs", 6).alias("mean_log_rs"),
        F.round(h, 4).alias("hurst_h"),
    ).orderBy("m")


def _hurst_sql() -> str:
    k = len(_HURST_SIZES)
    mean_lm = sum(_math.log(m) for m in _HURST_SIZES) / k
    sxx = sum((_math.log(m) - mean_lm) ** 2 for m in _HURST_SIZES)
    size_selects = []
    for m in _HURST_SIZES:
        size_selects.append(f"""
SELECT {m} AS m, {_math.log(m)!r} AS lm, n_blocks,
       CAST(lsum AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mean_log_rs
FROM (
  SELECT COUNT(*) AS n_blocks,
         SUM(CAST(round(ln(CAST(mx - mn AS DOUBLE)
                          / sqrt(CAST(CAST(sm2 AS VARCHAR) AS DOUBLE))), 9)
                  AS DECIMAL(28,9))) AS lsum
  FROM (
    SELECT blk, MAX(mw) AS mx, MIN(mw) AS mn,
           CAST({m} * ({m} * MAX(s2b) - CAST(MAX(sb) AS DECIMAL(38,0))
                       * MAX(sb)) AS DECIMAL(38,0)) AS sm2
    FROM (
      SELECT t // {m} AS blk, (t % {m}) + 1 AS j, cents,
             {m} * SUM(cents) OVER (PARTITION BY t // {m} ORDER BY t % {m}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - ((t % {m}) + 1) * SUM(cents) OVER (PARTITION BY t // {m})
               AS mw,
             SUM(cents) OVER (PARTITION BY t // {m}) AS sb,
             SUM(CAST(cents AS DECIMAL(38,0)) * cents)
               OVER (PARTITION BY t // {m}) AS s2b,
             COUNT(*) OVER (PARTITION BY t // {m}) AS cnt
      FROM idx
    ) WHERE cnt = {m}
    GROUP BY blk
  ) WHERE sm2 > 0
)""")
    union = "\nUNION ALL\n".join(size_selects)
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
idx AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY d) - 1 AS t, cents FROM daily
),
sizes AS ({union})
SELECT m, n_blocks, round(mean_log_rs, 6) AS mean_log_rs,
       round(CAST(SUM(CAST(round((lm - {mean_lm!r}) * mean_log_rs, 9)
                          AS DECIMAL(28,9))) OVER () AS DOUBLE)
             / {sxx!r}, 4) AS hurst_h
FROM sizes
ORDER BY m
"""

# --- price elasticity across parts ------------------------------------------


def price_elasticity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional price elasticity of demand: OLS of ln(total
    quantity sold) on ln(average unit price) across the part catalog —
    the log-log slope pricing teams read as "a 1% higher price sells
    elasticity% fewer units" (negative = normal good). With the R^2
    alongside, because a near-zero fit is itself the finding.

    Shape: ONE part-grain aggregation over lineitem, ONE moment row
    over the part domain. Determinism: revenue cents and quantities
    are exact integers; unit price and both lns are fixed chains with
    the ln rounded at 9; the four moment sums accumulate through
    decimal; slope/intercept/R^2 are fixed chains of the folded
    sums."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .alias("__cents"),
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("__qty"),
    )
    x = F.round(
        F.log(
            (F.col("__cents").cast("double") / F.lit(100.0))
            / F.col("__qty").cast("double")
        ),
        9,
    )
    y = F.round(F.log(F.col("__qty").cast("double")), 9)
    snap = lambda c: F.round(c, 9).cast("decimal(28,9)")
    m = per_part.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(snap(F.col("x"))).cast("double").alias("__sx"),
        F.sum(snap(F.col("y"))).cast("double").alias("__sy"),
        F.sum(snap(F.col("x") * F.col("y"))).cast("double").alias("__sxy"),
        F.sum(snap(F.col("x") * F.col("x"))).cast("double").alias("__sxx"),
        F.sum(snap(F.col("y") * F.col("y"))).cast("double").alias("__syy"),
    )
    nd = F.col("n_parts").cast("double")
    sxy_c = nd * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    sxx_c = nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    syy_c = nd * F.col("__syy") - F.col("__sy") * F.col("__sy")
    slope = sxy_c / sxx_c
    intercept = (F.col("__sy") - slope * F.col("__sx")) / nd
    return m.select(
        "n_parts",
        F.round(slope, 6).alias("elasticity"),
        F.round(intercept, 6).alias("intercept"),
        F.round(sxy_c * sxy_c / (sxx_c * syy_c), 6).alias("r2"),
    )


PRICE_ELASTICITY_PARTS_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))) AS cents,
         SUM(CAST(round(l_quantity) AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1
),
xy AS (
  SELECT round(ln((CAST(CAST(cents AS VARCHAR) AS DOUBLE) / 100.0e0)
                  / CAST(qty AS DOUBLE)), 9) AS x,
         round(ln(CAST(qty AS DOUBLE)), 9) AS y
  FROM per_part
),
m AS (
  SELECT COUNT(*) AS n_parts,
         CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syy
  FROM xy
)
SELECT n_parts,
       round((CAST(n_parts AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_parts AS DOUBLE) * sxx - sx * sx), 6) AS elasticity,
       round((sy - ((CAST(n_parts AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n_parts AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n_parts AS DOUBLE), 6) AS intercept,
       round((CAST(n_parts AS DOUBLE) * sxy - sx * sy)
             * (CAST(n_parts AS DOUBLE) * sxy - sx * sy)
             / ((CAST(n_parts AS DOUBLE) * sxx - sx * sx)
                * (CAST(n_parts AS DOUBLE) * syy - sy * sy)), 6) AS r2
FROM m
"""

# --- Granger-style lead-lag regression test ---------------------------------


def granger_signups_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen at lag 1: does yesterday's SIGNUP count
    predict today's purchase REVENUE beyond what yesterday's revenue
    already predicts? Unrestricted OLS rev_t ~ rev_(t-1) + sig_(t-1)
    vs restricted rev_t ~ rev_(t-1); F = (SSE_r - SSE_u)(n-3)/SSE_u
    with 1 numerator dof — the directional upgrade of
    ccf_revenue_signups (correlation at lag k says "moves together";
    Granger asks "adds information"). Both series are EVENT-derived
    (the orders and events calendars are disjoint in this schema — the
    ccf lesson).

    Shape: ONE daily conditional aggregation over events, a day-grid
    lag join, ONE moment row, a fixed-chain 2x2 normal-equation solve
    (the logreg/ALS discipline). Determinism: centered moments are
    exact n_p-scaled integers accumulated in DECIMAL(38,0)
    (VARCHAR-routed casts); every downstream value is a fixed IEEE
    chain of those sums."""
    e = read_parquet_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("rev"),
        F.sum((F.col("event_type") == "signup").cast("long")).alias("sig"),
    )
    lag = daily.select(
        F.col("d").alias("d2"),
        F.col("rev").alias("rev_l"),
        F.col("sig").alias("sig_l"),
    )
    pairs = daily.join(lag, F.expr("d = date_add(d2, 1)")).select(
        "rev", "rev_l", "sig_l"
    )
    tot = pairs.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("rev").alias("__sy"),
        F.sum("rev_l").alias("__syl"),
        F.sum("sig_l").alias("__sxl"),
    )
    # centered via np-scaled integers: cy = np*y - Sy etc (exact)
    cent = pairs.crossJoin(F.broadcast(tot)).select(
        "np",
        (F.col("np") * F.col("rev") - F.col("__sy"))
        .cast("decimal(19,0)")
        .alias("cy"),
        (F.col("np") * F.col("rev_l") - F.col("__syl"))
        .cast("decimal(19,0)")
        .alias("cyl"),
        (F.col("np") * F.col("sig_l") - F.col("__sxl"))
        .cast("decimal(19,0)")
        .alias("cxl"),
    )
    m = cent.agg(
        F.max("np").alias("n_pairs"),
        F.sum(F.col("cyl") * F.col("cyl")).cast("decimal(38,0)").alias("__a11"),
        F.sum(F.col("cyl") * F.col("cxl")).cast("decimal(38,0)").alias("__a12"),
        F.sum(F.col("cxl") * F.col("cxl")).cast("decimal(38,0)").alias("__a22"),
        F.sum(F.col("cyl") * F.col("cy")).cast("decimal(38,0)").alias("__b1"),
        F.sum(F.col("cxl") * F.col("cy")).cast("decimal(38,0)").alias("__b2"),
        F.sum(F.col("cy") * F.col("cy")).cast("decimal(38,0)").alias("__syy"),
    )
    d = lambda c: F.col(c).cast("double")
    det = d("__a11") * d("__a22") - d("__a12") * d("__a12")
    b = (d("__b1") * d("__a22") - d("__b2") * d("__a12")) / det
    c = (d("__b2") * d("__a11") - d("__b1") * d("__a12")) / det
    sse_u = d("__syy") - b * d("__b1") - c * d("__b2")
    sse_r = d("__syy") - d("__b1") * d("__b1") / d("__a11")
    nd = F.col("n_pairs").cast("double")
    f_stat = (sse_r - sse_u) * (nd - F.lit(3.0)) / sse_u
    return m.select(
        "n_pairs",
        F.round(b, 6).alias("beta_rev_lag"),
        F.round(c, 6).alias("beta_sig_lag"),
        F.round(f_stat, 4).alias("f_stat"),
        (F.col("n_pairs") - F.lit(3)).cast("int").alias("dof_denom"),
    )


GRANGER_SIGNUPS_REVENUE_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS rev,
         SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS sig
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.rev, b.rev AS rev_l, b.sig AS sig_l
  FROM daily a JOIN daily b ON a.d = b.d + 1
),
tot AS (
  SELECT COUNT(*) AS np, SUM(rev) AS sy, SUM(rev_l) AS syl,
         SUM(sig_l) AS sxl
  FROM pairs
),
cent AS (
  SELECT t.np,
         CAST(t.np * p.rev - t.sy AS DECIMAL(19,0)) AS cy,
         CAST(t.np * p.rev_l - t.syl AS DECIMAL(19,0)) AS cyl,
         CAST(t.np * p.sig_l - t.sxl AS DECIMAL(19,0)) AS cxl
  FROM pairs p CROSS JOIN tot t
),
m AS (
  SELECT MAX(np) AS n_pairs,
         CAST(CAST(CAST(SUM(cyl * cyl) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS a11,
         CAST(CAST(CAST(SUM(cyl * cxl) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS a12,
         CAST(CAST(CAST(SUM(cxl * cxl) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS a22,
         CAST(CAST(CAST(SUM(cyl * cy) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS b1,
         CAST(CAST(CAST(SUM(cxl * cy) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS b2,
         CAST(CAST(CAST(SUM(cy * cy) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS syy
  FROM cent
),
fit AS (
  SELECT n_pairs,
         (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS b,
         (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS c,
         a11, a12, a22, b1, b2, syy
  FROM m
)
SELECT n_pairs,
       round(b, 6) AS beta_rev_lag,
       round(c, 6) AS beta_sig_lag,
       round(((syy - b1 * b1 / a11) - (syy - b * b1 - c * b2))
             * (CAST(n_pairs AS DOUBLE) - 3.0e0)
             / (syy - b * b1 - c * b2), 4) AS f_stat,
       CAST(n_pairs - 3 AS INT) AS dof_denom
FROM fit
"""

# --- cohort LTV matrix ------------------------------------------------------


def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by SIGNUP WEEK, each
    cohort's purchase revenue accumulated by WEEKS-SINCE-SIGNUP — the
    revenue companion of cohort_retention (which counts active users):
    cum_ltv_per_user is the curve a payback model reads ("cohorts
    recover acquisition cost by week 3").

    Shape: per-user first-signup aggregation, one join back to
    purchases, ONE (cohort, age) aggregation, cumulative windows over
    that tiny grid. Determinism: revenue is exact integer cents;
    epoch-week arithmetic is integer DIV (never engine week
    functions — the hbos_outliers lesson); per-user division is one
    fixed chain."""
    e = read_parquet_table(spark, sf_dir, "events")
    epoch_day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(epoch_day).alias("__sd"))
        .withColumn("cohort_week", F.floor(F.col("__sd") / 7).cast("long"))
    )
    cohort_sizes = su.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    pur = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            epoch_day.alias("__pd"),
            F.round(F.col("value") * 100).cast("long").alias("__cents"),
        )
        .join(su, "user_id")
        .filter(F.col("__pd") >= F.col("__sd"))
        .withColumn(
            "age_week",
            F.floor((F.col("__pd") - F.col("__sd")) / 7).cast("long"),
        )
    )
    grid = pur.groupBy("cohort_week", "age_week").agg(
        F.sum("__cents").alias("__rev")
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.withColumn("__cum", F.sum("__rev").over(wcum))
        .join(cohort_sizes, "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "n_users",
            F.round(F.col("__rev").cast("double") / F.lit(100.0), 2).alias(
                "revenue"
            ),
            F.round(F.col("__cum").cast("double") / F.lit(100.0), 2).alias(
                "cum_revenue"
            ),
            F.round(
                F.col("__cum").cast("double")
                / (F.lit(100.0) * F.col("n_users").cast("double")),
                4,
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "age_week")
    )


COHORT_LTV_MATRIX_SQL = """
WITH su AS (
  SELECT user_id, MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
           AS sd
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
coh AS (SELECT user_id, sd, sd // 7 AS cohort_week FROM su),
sizes AS (SELECT cohort_week, COUNT(*) AS n_users FROM coh GROUP BY 1),
pur AS (
  SELECT c.cohort_week,
         (date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) - c.sd) // 7
           AS age_week,
         CAST(round(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN coh c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) >= c.sd
),
grid AS (
  SELECT cohort_week, age_week, SUM(cents) AS rev
  FROM pur GROUP BY 1, 2
),
cum AS (
  SELECT cohort_week, age_week, rev,
         SUM(rev) OVER (PARTITION BY cohort_week ORDER BY age_week
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumr
  FROM grid
)
SELECT c.cohort_week, c.age_week, s.n_users,
       round(CAST(c.rev AS DOUBLE) / 100.0e0, 2) AS revenue,
       round(CAST(c.cumr AS DOUBLE) / 100.0e0, 2) AS cum_revenue,
       round(CAST(c.cumr AS DOUBLE)
             / (100.0e0 * CAST(s.n_users AS DOUBLE)), 4) AS cum_ltv_per_user
FROM cum c JOIN sizes s ON s.cohort_week = c.cohort_week
ORDER BY c.cohort_week, c.age_week
"""

# --- Markov entropy rate ----------------------------------------------------


def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the behavioral Markov chain: per-state next-event
    entropy H(s) = -sum p ln p over event_type_markov's transition
    matrix, weighted by the empirical state frequency pi(s) into the
    chain's entropy rate — "how predictable is the next user action
    from the current one", the single-number summary sequence models
    are benchmarked against (rate ~ ln|states| means the chain adds
    nothing; near 0 means journeys are deterministic).

    Shape: the same one-lag-window + |types|^2 aggregation as
    event_type_markov, then constant-size arithmetic. Determinism:
    counts exact; each p ln p rounds the ln at 9 and decimal-sums; the
    rate decimal-sums the 9-rounded weighted terms."""
    e = read_parquet_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("prev_type")
    wall = Window.partitionBy()
    t = counts.withColumn("__row", F.sum("n").over(wrow)).withColumn(
        "__tot", F.sum("n").over(wall)
    )
    p = F.col("n").cast("double") / F.col("__row").cast("double")
    term = F.round(-p * F.round(F.log(p), 9), 9).cast("decimal(28,9)")
    per_state = (
        t.withColumn("__term", term)
        .groupBy("prev_type")
        .agg(
            F.max("__row").alias("n_transitions"),
            F.max("__tot").alias("__tot"),
            F.sum("__term").cast("double").alias("__h"),
        )
    )
    pi = F.col("n_transitions").cast("double") / F.col("__tot").cast("double")
    rate_term = F.round(pi * F.col("__h"), 9).cast("decimal(28,9)")
    return (
        per_state.withColumn(
            "entropy_rate",
            F.round(
                F.sum(rate_term).over(Window.partitionBy()).cast("double"), 6
            ),
        )
        .select(
            F.col("prev_type").alias("state"),
            "n_transitions",
            F.round(pi, 6).alias("pi"),
            F.round("__h", 6).alias("state_entropy"),
            "entropy_rate",
        )
        .orderBy("state")
    )


MARKOV_ENTROPY_RATE_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
t AS (
  SELECT *,
         SUM(n) OVER (PARTITION BY prev_type) AS row_n,
         SUM(n) OVER () AS tot
  FROM counts
),
per_state AS (
  SELECT prev_type, MAX(row_n) AS n_transitions, MAX(tot) AS tot,
         CAST(SUM(CAST(round(-(CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE))
                 * round(ln(CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE)), 9), 9)
               AS DECIMAL(28,9))) AS DOUBLE) AS h
  FROM t GROUP BY prev_type
)
SELECT prev_type AS state, CAST(n_transitions AS BIGINT) AS n_transitions,
       round(CAST(n_transitions AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS pi,
       round(h, 6) AS state_entropy,
       round(CAST(SUM(CAST(round((CAST(n_transitions AS DOUBLE)
                                  / CAST(tot AS DOUBLE)) * h, 9)
             AS DECIMAL(28,9))) OVER () AS DOUBLE), 6) AS entropy_rate
FROM per_state
ORDER BY state
"""

# --- Bass diffusion fit -----------------------------------------------------


def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion-model fit of the signup adoption curve by the
    classic discrete-form OLS: daily NEW adopters A_t regressed on
    cumulative adopters a + b*Y + c*Y^2, then innovation p = a/M,
    imitation q = b + p, market size M as the positive root of
    cY^2 + bY + a — the launch-forecast read (q/p >> 1 means growth is
    word-of-mouth driven). Degenerate fits (c >= 0 or negative
    discriminant — a corpus with no S-curve) surface as NULL p/q/M
    rather than garbage.

    Shape: per-user first-signup agg, one day-grid window, ONE moment
    row, the granger-style fixed-chain 2x2 centered solve.
    Determinism: adopters/cumulatives are exact integers; centered
    moments are n_p-scaled exact integers in DECIMAL(38,0); every
    downstream value is a fixed chain (one sqrt)."""
    e = read_parquet_table(spark, sf_dir, "events")
    first = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d"))
    )
    daily = first.groupBy("d").agg(F.count(F.lit(1)).alias("a_t"))
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    pts = daily.select(
        "a_t", F.coalesce(F.sum("a_t").over(wd), F.lit(0)).alias("y_lag")
    )
    tot = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("a_t").alias("__sa"),
        F.sum("y_lag").alias("__s1"),
        # decimal-staged square: long wraps once cumulative adopters
        # pass ~1.6e8 (the DECIMAL(19,0) residual below documents the
        # supported ~1e9-adopter cap — beyond it Spark nulls rather
        # than silently wrapping)
        F.sum(F.col("y_lag").cast("decimal(38,0)") * F.col("y_lag")).alias(
            "__s2"
        ),
    )
    cent = pts.crossJoin(F.broadcast(tot)).select(
        "np",
        "__sa",
        "__s1",
        "__s2",
        (F.col("np") * F.col("a_t") - F.col("__sa"))
        .cast("decimal(19,0)")
        .alias("cy"),
        (F.col("np") * F.col("y_lag") - F.col("__s1"))
        .cast("decimal(19,0)")
        .alias("c1"),
        (
            F.col("np").cast("decimal(38,0)")
            * F.col("y_lag")
            * F.col("y_lag")
            - F.col("__s2")
        )
        .cast("decimal(19,0)")
        .alias("c2"),
    )
    m = cent.agg(
        F.max("np").alias("n_days"),
        F.max("__sa").alias("__sa"),
        F.max("__s1").alias("__s1"),
        F.max("__s2").alias("__s2"),
        F.sum(F.col("c1") * F.col("c1")).cast("decimal(38,0)").alias("__a11"),
        F.sum(F.col("c1") * F.col("c2")).cast("decimal(38,0)").alias("__a12"),
        F.sum(F.col("c2") * F.col("c2")).cast("decimal(38,0)").alias("__a22"),
        F.sum(F.col("c1") * F.col("cy")).cast("decimal(38,0)").alias("__b1"),
        F.sum(F.col("c2") * F.col("cy")).cast("decimal(38,0)").alias("__b2"),
    )
    d = lambda c: F.col(c).cast("double")
    det = d("__a11") * d("__a22") - d("__a12") * d("__a12")
    b = (d("__b1") * d("__a22") - d("__b2") * d("__a12")) / det
    c = (d("__b2") * d("__a11") - d("__b1") * d("__a12")) / det
    nd = F.col("n_days").cast("double")
    a = (d("__sa") - b * d("__s1") - c * d("__s2")) / nd
    disc = b * b - F.lit(4.0) * a * c
    mcap = F.when(
        (c < 0) & (disc > 0), (-b - F.sqrt(disc)) / (F.lit(2.0) * c)
    )
    p = a / mcap
    return m.select(
        "n_days",
        F.round(a, 6).alias("coef_a"),
        F.round(b, 6).alias("coef_b"),
        F.round(c, 9).alias("coef_c"),
        F.round(mcap, 1).alias("market_size_m"),
        F.round(p, 6).alias("innovation_p"),
        F.round(b + p, 6).alias("imitation_q"),
        F.round((b + p) / p, 4).alias("q_over_p"),
    )


BASS_DIFFUSION_FIT_SQL = """
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
daily AS (SELECT d, COUNT(*) AS a_t FROM first GROUP BY d),
pts AS (
  SELECT a_t,
         COALESCE(SUM(a_t) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS y_lag
  FROM daily
),
tot AS (
  SELECT COUNT(*) AS np, SUM(a_t) AS sa, SUM(y_lag) AS s1,
         SUM(CAST(y_lag AS DECIMAL(38,0)) * y_lag) AS s2
  FROM pts
),
cent AS (
  SELECT t.np, t.sa, t.s1, t.s2,
         CAST(t.np * p.a_t - t.sa AS DECIMAL(19,0)) AS cy,
         CAST(t.np * p.y_lag - t.s1 AS DECIMAL(19,0)) AS c1,
         CAST(CAST(t.np AS DECIMAL(38,0)) * p.y_lag * p.y_lag - t.s2
              AS DECIMAL(19,0)) AS c2
  FROM pts p CROSS JOIN tot t
),
m AS (
  SELECT MAX(np) AS n_days, MAX(sa) AS sa, MAX(s1) AS s1, MAX(s2) AS s2,
         CAST(CAST(CAST(SUM(c1 * c1) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS a11,
         CAST(CAST(CAST(SUM(c1 * c2) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS a12,
         CAST(CAST(CAST(SUM(c2 * c2) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS a22,
         CAST(CAST(CAST(SUM(c1 * cy) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS b1,
         CAST(CAST(CAST(SUM(c2 * cy) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS b2
  FROM cent
),
fit AS (
  SELECT n_days, sa, s1, s2,
         (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS b,
         (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS c
  FROM m
),
fit2 AS (
  SELECT *,
         (CAST(sa AS DOUBLE) - b * CAST(s1 AS DOUBLE)
          - c * CAST(s2 AS DOUBLE)) / CAST(n_days AS DOUBLE) AS a
  FROM fit
),
fit3 AS (
  SELECT *,
         CASE WHEN c < 0 AND b * b - 4.0e0 * a * c > 0
              THEN (-b - sqrt(b * b - 4.0e0 * a * c)) / (2.0e0 * c)
         END AS mcap
  FROM fit2
)
SELECT n_days,
       round(a, 6) AS coef_a, round(b, 6) AS coef_b, round(c, 9) AS coef_c,
       round(mcap, 1) AS market_size_m,
       round(a / mcap, 6) AS innovation_p,
       round(b + a / mcap, 6) AS imitation_q,
       round((b + a / mcap) / (a / mcap), 4) AS q_over_p
FROM fit3
"""

# --- SPC control chart ------------------------------------------------------


def control_chart_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart of daily order revenue with two Western
    Electric rules: rule 1 — a point beyond mu +/- 3 sigma; rule 4 —
    eight consecutive points on the same side of the center line (a
    sustained level shift too small for rule 1) — the SPC monitoring
    read beside cusum_daily_revenue (CUSUM accumulates; control charts
    flag per-day). Output: every flagged day with its z-score and the
    rule(s) it tripped.

    Shape: ONE daily aggregation, one 1-row moment broadcast, one
    8-day window — day-grid work. Determinism: mu/sigma come from
    exact integer moments (the n*S2 - S^2 form); side-of-center is an
    exact integer-sign comparison (n*x vs S); the run rule counts
    sides over a ROWS frame."""
    daily = _daily_order_cents(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("cents").alias("__s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("__s2"),
    )
    nd = F.col("__n").cast("double")
    num = (
        F.col("__n").cast("decimal(38,0)") * F.col("__s2")
        - F.col("__s").cast("decimal(38,0)") * F.col("__s")
    ).cast("double")
    j = daily.crossJoin(F.broadcast(tot)).withColumn(
        "__sigma", F.sqrt(num / (nd * (nd - F.lit(1.0))))
    )
    # side of center: sign(n*x - S) — exact integers
    side = F.signum(
        (F.col("__n") * F.col("cents") - F.col("__s")).cast("double")
    ).cast("int")
    z = (
        (F.col("__n") * F.col("cents") - F.col("__s")).cast("double")
        / nd
        / F.col("__sigma")
    )
    w8 = Window.orderBy("d").rowsBetween(-7, 0)
    flagged = (
        j.withColumn("__side", side)
        .withColumn("__z", z)
        .withColumn("__run", F.sum("__side").over(w8))
        .withColumn("__cnt", F.count(F.lit(1)).over(w8))
        .withColumn("rule1_3sigma", F.abs(F.col("__z")) > 3.0)
        .withColumn(
            "rule4_run8",
            (F.col("__cnt") == 8) & (F.abs(F.col("__run")) == 8),
        )
        .filter(F.col("rule1_3sigma") | F.col("rule4_run8"))
    )
    return flagged.select(
        "d",
        F.round(F.col("cents").cast("double") / F.lit(100.0), 2).alias(
            "revenue"
        ),
        F.round("__z", 4).alias("zscore"),
        "rule1_3sigma",
        "rule4_run8",
    ).orderBy("d")


CONTROL_CHART_DAILY_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
tot AS (
  SELECT COUNT(*) AS n, SUM(cents) AS s,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS s2
  FROM daily
),
j AS (
  SELECT d.d, d.cents, t.n, t.s,
         sqrt(CAST(CAST(CAST(t.n AS DECIMAL(38,0)) * t.s2
                        - CAST(t.s AS DECIMAL(38,0)) * t.s AS VARCHAR)
                   AS DOUBLE)
              / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1.0e0)))
           AS sigma
  FROM daily d CROSS JOIN tot t
),
scored AS (
  SELECT d, cents, n, s, sigma,
         CAST(sign(CAST(n * cents - s AS DOUBLE)) AS INT) AS side,
         CAST(n * cents - s AS DOUBLE) / CAST(n AS DOUBLE) / sigma AS z
  FROM j
),
runs AS (
  SELECT *,
         SUM(side) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING
                         AND CURRENT ROW) AS run8,
         COUNT(*) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING
                        AND CURRENT ROW) AS cnt8
  FROM scored
)
SELECT d, round(CAST(cents AS DOUBLE) / 100.0e0, 2) AS revenue,
       round(z, 4) AS zscore,
       abs(z) > 3.0e0 AS rule1_3sigma,
       cnt8 = 8 AND abs(run8) = 8 AS rule4_run8
FROM runs
WHERE abs(z) > 3.0e0 OR (cnt8 = 8 AND abs(run8) = 8)
ORDER BY d
"""

# --- DAU / WAU / MAU stickiness ---------------------------------------------


def dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users with trailing-7-day WAU and corpus MAU, plus
    the DAU/WAU and DAU/MAU stickiness ratios — the product-health
    dashboard row. countDistinct over a sliding RANGE frame is not a
    thing in any engine, so WAU(d) materializes the (user, day)
    distinct grid once and counts distinct users through a bounded
    [d-6, d] day join — each user-day lands in at most 7 day windows.

    Shape: one user-day distinct, one <=7x day-window join at user-day
    cardinality, day-grain distinct counts. Determinism: everything is
    exact integer counts; ratios are single divisions."""
    e = read_parquet_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("ed"),
        F.to_date("ts").alias("d"),
    ).distinct()
    days = ud.select("ed", "d").distinct()
    dau = ud.groupBy("ed").agg(F.countDistinct("user_id").alias("dau"))
    wau = (
        days.alias("w")
        .join(
            ud.select(F.col("user_id"), F.col("ed").alias("ued")),
            (F.col("ued") >= F.col("w.ed") - 6) & (F.col("ued") <= F.col("w.ed")),
        )
        .groupBy(F.col("w.ed").alias("ed"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    mau = e.agg(F.countDistinct("user_id").alias("mau"))
    return (
        days.join(dau, "ed")
        .join(wau, "ed")
        .crossJoin(F.broadcast(mau))
        .select(
            "d",
            "dau",
            "wau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("dau_over_wau"),
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double"), 6
            ).alias("dau_over_mau"),
        )
        .orderBy("d")
    )


DAU_WAU_MAU_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
         CAST(ts AS DATE) AS d
  FROM events
),
days AS (SELECT DISTINCT ed, d FROM ud),
dau AS (SELECT ed, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
wau AS (
  SELECT w.ed, COUNT(DISTINCT u.user_id) AS wau
  FROM days w JOIN ud u ON u.ed BETWEEN w.ed - 6 AND w.ed
  GROUP BY 1
),
mau AS (SELECT COUNT(DISTINCT user_id) AS mau FROM events)
SELECT dy.d, da.dau, wa.wau, m.mau,
       round(CAST(da.dau AS DOUBLE) / CAST(wa.wau AS DOUBLE), 6)
         AS dau_over_wau,
       round(CAST(da.dau AS DOUBLE) / CAST(m.mau AS DOUBLE), 6)
         AS dau_over_mau
FROM days dy
JOIN dau da ON da.ed = dy.ed
JOIN wau wa ON wa.ed = dy.ed
CROSS JOIN mau m
ORDER BY dy.d
"""

# --- price-volume-mix bridge ------------------------------------------------

_PVM_SNAP = 16384.0  # power-of-two snap grid (FMA-safe)


def price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge between the first and second
    half of the order calendar — the FP&A decomposition "how much of
    the revenue change came from charging differently vs selling
    more vs the catalog changing": per part present in both halves,
    price effect (p2-p1)*q2 and volume effect (q2-q1)*p1 (which sum
    EXACTLY to that part's revenue delta); parts that appear only in
    one half land in the new/exited buckets. One reconciliation row:
    total delta == price + volume + new - exited (asserted by the
    replay test).

    Shape: one part x half aggregation over lineitem, a part-grain
    self-pivot, ONE fold. Determinism: revenue/quantity are exact
    integers; unit prices are single divisions; per-part effects are
    fixed chains snapped on the 2^14 grid before decimal summation."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min(F.to_date("l_shipdate")).alias("__lo"),
        F.max(F.to_date("l_shipdate")).alias("__hi"),
    )
    half = li.crossJoin(F.broadcast(bounds)).select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("__cents"),
        F.round(F.col("l_quantity")).cast("long").alias("__qty"),
        (
            F.datediff(F.to_date("l_shipdate"), F.col("__lo"))
            * 2
            >= F.datediff(F.col("__hi"), F.col("__lo"))
        ).cast("int").alias("h2"),
    )
    per = half.groupBy("l_partkey").agg(
        F.sum(F.when(F.col("h2") == 0, F.col("__cents")).otherwise(0)).alias("rev1"),
        F.sum(F.when(F.col("h2") == 0, F.col("__qty")).otherwise(0)).alias("q1"),
        F.sum(F.when(F.col("h2") == 1, F.col("__cents")).otherwise(0)).alias("rev2"),
        F.sum(F.when(F.col("h2") == 1, F.col("__qty")).otherwise(0)).alias("q2"),
    )
    p1 = F.col("rev1").cast("double") / F.col("q1").cast("double")
    p2 = F.col("rev2").cast("double") / F.col("q2").cast("double")
    both = (F.col("q1") > 0) & (F.col("q2") > 0)
    price_eff = F.when(both, (p2 - p1) * F.col("q2").cast("double"))
    vol_eff = F.when(both, (F.col("q2") - F.col("q1")).cast("double") * p1)
    snap = lambda c: F.floor(c * F.lit(_PVM_SNAP) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    folded = per.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.when(both, 1).otherwise(0)).alias("n_parts_both"),
        F.sum(F.col("rev2") - F.col("rev1")).alias("__delta_c"),
        (F.sum(snap(price_eff)).cast("double") / F.lit(_PVM_SNAP)).alias("__pe"),
        (F.sum(snap(vol_eff)).cast("double") / F.lit(_PVM_SNAP)).alias("__ve"),
        F.sum(F.when(F.col("q1") == 0, F.col("rev2")).otherwise(0)).alias(
            "__new_c"
        ),
        F.sum(F.when(F.col("q2") == 0, F.col("rev1")).otherwise(0)).alias(
            "__exit_c"
        ),
    )
    cents = lambda c: F.round(c.cast("double") / F.lit(100.0), 2)
    return folded.select(
        "n_parts",
        "n_parts_both",
        cents(F.col("__delta_c")).alias("total_delta"),
        F.round(F.col("__pe") / F.lit(100.0), 2).alias("price_effect"),
        F.round(F.col("__ve") / F.lit(100.0), 2).alias("volume_effect"),
        cents(F.col("__new_c")).alias("new_parts_effect"),
        cents(F.col("__exit_c")).alias("exited_parts_effect"),
    )


PRICE_VOLUME_MIX_SQL = f"""
WITH bounds AS (
  SELECT MIN(CAST(l_shipdate AS DATE)) AS lo, MAX(CAST(l_shipdate AS DATE)) AS hi
  FROM lineitem
),
half AS (
  SELECT l_partkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CASE WHEN date_diff('day', b.lo, CAST(l_shipdate AS DATE)) * 2
                   >= date_diff('day', b.lo, b.hi) THEN 1 ELSE 0 END AS h2
  FROM lineitem CROSS JOIN bounds b
),
per AS (
  SELECT l_partkey,
         SUM(CASE WHEN h2 = 0 THEN cents ELSE 0 END) AS rev1,
         SUM(CASE WHEN h2 = 0 THEN qty ELSE 0 END) AS q1,
         SUM(CASE WHEN h2 = 1 THEN cents ELSE 0 END) AS rev2,
         SUM(CASE WHEN h2 = 1 THEN qty ELSE 0 END) AS q2
  FROM half GROUP BY 1
),
folded AS (
  SELECT COUNT(*) AS n_parts,
         SUM(CASE WHEN q1 > 0 AND q2 > 0 THEN 1 ELSE 0 END) AS n_parts_both,
         SUM(rev2 - rev1) AS delta_c,
         CAST(SUM(CASE WHEN q1 > 0 AND q2 > 0 THEN CAST(floor(
             ((CAST(rev2 AS DOUBLE) / CAST(q2 AS DOUBLE)
               - CAST(rev1 AS DOUBLE) / CAST(q1 AS DOUBLE))
              * CAST(q2 AS DOUBLE)) * {_PVM_SNAP!r} + 0.5e0)
           AS DECIMAL(38,0)) END) AS DOUBLE) / {_PVM_SNAP!r} AS pe,
         CAST(SUM(CASE WHEN q1 > 0 AND q2 > 0 THEN CAST(floor(
             (CAST(q2 - q1 AS DOUBLE)
              * (CAST(rev1 AS DOUBLE) / CAST(q1 AS DOUBLE)))
             * {_PVM_SNAP!r} + 0.5e0)
           AS DECIMAL(38,0)) END) AS DOUBLE) / {_PVM_SNAP!r} AS ve,
         SUM(CASE WHEN q1 = 0 THEN rev2 ELSE 0 END) AS new_c,
         SUM(CASE WHEN q2 = 0 THEN rev1 ELSE 0 END) AS exit_c
  FROM per
)
SELECT n_parts, CAST(n_parts_both AS BIGINT) AS n_parts_both,
       round(CAST(delta_c AS DOUBLE) / 100.0e0, 2) AS total_delta,
       round(pe / 100.0e0, 2) AS price_effect,
       round(ve / 100.0e0, 2) AS volume_effect,
       round(CAST(new_c AS DOUBLE) / 100.0e0, 2) AS new_parts_effect,
       round(CAST(exit_c AS DOUBLE) / 100.0e0, 2) AS exited_parts_effect
FROM folded
"""

# --- daily bounce rate ------------------------------------------------------


def bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate over 4-hour-gap sessions: the share of
    sessions STARTED each day that contain exactly one event — the
    engagement-quality read beside dau_wau_mau's reach metrics,
    consuming the proven native session_window sessionization as a
    substrate.

    Shape: the session aggregation (user-keyed window state), then one
    day-grain fold. Determinism: session boundaries are the proven
    session_window semantics; counts are exact; the rate is one
    division."""
    from data_integration_case_study_spark.streaming import events as ev
    from data_integration_case_study_spark.plans.events_queries import (
        read_events,
    )

    sess = ev.session_window_agg(read_events(spark, sf_dir), "4 hours")
    return (
        sess.groupBy(F.to_date("session_start").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        )
        .select(
            "d",
            "n_sessions",
            "n_bounces",
            F.round(
                F.col("n_bounces").cast("double")
                / F.col("n_sessions").cast("double"),
                6,
            ).alias("bounce_rate"),
        )
        .orderBy("d")
    )


def _bounce_rate_sql() -> str:
    from data_integration_case_study_spark.plans.events_queries import (
        SESSION_WINDOWS_4H_SQL,
    )

    return f"""
WITH sess AS ({SESSION_WINDOWS_4H_SQL})
SELECT CAST(session_start AS DATE) AS d,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
FROM sess
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "ar1_forecast_backtest": ar1_forecast_backtest,
    "dickey_fuller_daily": dickey_fuller_daily,
    "ljung_box_daily": ljung_box_daily,
    "periodogram_daily": periodogram_daily,
    "hurst_rs_daily": hurst_rs_daily,
    "price_elasticity_parts": price_elasticity_parts,
    "granger_signups_revenue": granger_signups_revenue,
    "cohort_ltv_matrix": cohort_ltv_matrix,
    "markov_entropy_rate": markov_entropy_rate,
    "bass_diffusion_fit": bass_diffusion_fit,
    "control_chart_daily": control_chart_daily,
    "dau_wau_mau": dau_wau_mau,
    "price_volume_mix": price_volume_mix,
    "bounce_rate_daily": bounce_rate_daily,
}

ORACLES = {
    "ar1_forecast_backtest": AR1_FORECAST_BACKTEST_SQL,
    "dickey_fuller_daily": DICKEY_FULLER_DAILY_SQL,
    "ljung_box_daily": LJUNG_BOX_DAILY_SQL,
    "periodogram_daily": _periodogram_sql(),
    "hurst_rs_daily": _hurst_sql(),
    "price_elasticity_parts": PRICE_ELASTICITY_PARTS_SQL,
    "granger_signups_revenue": GRANGER_SIGNUPS_REVENUE_SQL,
    "cohort_ltv_matrix": COHORT_LTV_MATRIX_SQL,
    "markov_entropy_rate": MARKOV_ENTROPY_RATE_SQL,
    "bass_diffusion_fit": BASS_DIFFUSION_FIT_SQL,
    "control_chart_daily": CONTROL_CHART_DAILY_SQL,
    "dau_wau_mau": DAU_WAU_MAU_SQL,
    "price_volume_mix": PRICE_VOLUME_MIX_SQL,
    "bounce_rate_daily": _bounce_rate_sql(),
}

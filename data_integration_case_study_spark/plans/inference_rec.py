"""Recommender evaluation, market-basket mining, and fraud/velocity
flags — one of the four inference plan modules (inference_stats,
inference_ts, inference_eval, inference_rec)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.sources.readers import read_parquet_table
from pyspark.sql import DataFrame, SparkSession, Window
from data_integration_case_study_spark.sources.readers import read_parquet_table


# --- recommender evaluation: leave-last-basket-out hit rate -----------------


def rec_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-basket-out evaluation of the item-item collaborative
    filter: hold out every customer's LAST order day as the test
    basket, rebuild the also-bought top-3 similarity on the remaining
    (train) baskets only — no test leakage into the model — recommend
    the union of train items' neighbors minus items already owned, and
    score hit-rate@3 (any recommendation appears in the held-out
    basket). The eval-tripod sibling of ann_recall_at_k / neardup_eval
    for the recommendation surface.

    Shape: the similarity build is the shared basket-bounded
    copurchase self-join (sum(basket^2), never catalog^2) on the train
    subset; recommendation expansion is (user-train-item) x top-3 — a
    fan-out of <= 3 per train item; dedup/anti/semi joins all hash on
    (user, item). One-row report.

    Determinism: counts are exact; the top-3 window breaks ties by
    (cosine DESC, co DESC, neighbor); hit_rate is one division."""
    from data_integration_case_study_spark.plans.mining_queries import (
        copurchase_pairs,
    )

    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    li = (
        read_parquet_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "d", "l_orderkey", "l_partkey")
    )
    last = li.groupBy("o_custkey").agg(F.max("d").alias("__last_d"))
    # NOTE (r11): persisting tagged/train (they feed up to six branches)
    # was tried and REVERTED — an alternating same-minute A/B measured
    # the cached form ~50% SLOWER (15.4/15.3/20.5 s vs 10.2/9.9/14.0 s):
    # at ~550k rows the block-store materialization plus the lost
    # whole-stage fusion into the downstream aggregates cost more than
    # the repeated cheap scans they saved — the same trade the round-10
    # substrate-sharing A/B documented for the dedup detectors.
    tagged = li.join(last, "o_custkey").withColumn(
        "__is_test", F.col("d") == F.col("__last_d")
    )
    train_li = tagged.filter(~F.col("__is_test"))
    train = train_li.select("o_custkey", "l_partkey").distinct()
    test = (
        tagged.filter(F.col("__is_test"))
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    co = copurchase_pairs(
        train_li.select("l_orderkey", "l_partkey"), 2
    ).withColumnRenamed("co", "co_count")
    n_item = (
        train_li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    sym = co.unionByName(
        co.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "co_count")
    )
    scored = (
        sym.join(
            n_item.select(F.col("item").alias("pa"), F.col("n_orders").alias("na")),
            "pa",
        )
        .join(
            n_item.select(F.col("item").alias("pb"), F.col("n_orders").alias("nb")),
            "pb",
        )
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
    top3 = (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select("item", "neighbor")
    )
    recos = (
        train.withColumnRenamed("l_partkey", "item")
        .join(top3, "item")
        .select("o_custkey", F.col("neighbor").alias("l_partkey"))
        .distinct()
        .join(train, ["o_custkey", "l_partkey"], "left_anti")
    )
    eval_users = train.select("o_custkey").distinct()
    reco_users = recos.select("o_custkey").distinct()
    hit_users = (
        recos.join(test, ["o_custkey", "l_partkey"], "left_semi")
        .select("o_custkey")
        .distinct()
    )
    folded = (
        eval_users.agg(F.count(F.lit(1)).alias("n_users_eval"))
        .crossJoin(
            F.broadcast(reco_users.agg(F.count(F.lit(1)).alias("n_users_with_reco")))
        )
        .crossJoin(F.broadcast(hit_users.agg(F.count(F.lit(1)).alias("n_hits"))))
    )
    return folded.select(
        "n_users_eval",
        "n_users_with_reco",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double")
            / F.col("n_users_with_reco").cast("double"),
            6,
        ).alias("hit_rate"),
        F.round(
            F.col("n_hits").cast("double") / F.col("n_users_eval").cast("double"),
            6,
        ).alias("hit_rate_all_eval"),
    )


REC_HITRATE_EVAL_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
),
li AS (
  SELECT o.o_custkey, o.d, x.l_orderkey, x.l_partkey
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
  JOIN o ON x.l_orderkey = o.o_orderkey
),
last AS (SELECT o_custkey, MAX(d) AS last_d FROM li GROUP BY 1),
tagged AS (
  SELECT li.*, li.d = l.last_d AS is_test
  FROM li JOIN last l ON l.o_custkey = li.o_custkey
),
train_li AS (SELECT * FROM tagged WHERE NOT is_test),
train AS (SELECT DISTINCT o_custkey, l_partkey FROM train_li),
test AS (SELECT DISTINCT o_custkey, l_partkey FROM tagged WHERE is_test),
titems AS (SELECT DISTINCT l_orderkey, l_partkey FROM train_li),
n_item AS (SELECT l_partkey AS item, COUNT(*) AS n_orders FROM titems GROUP BY 1),
co AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS co_count
  FROM titems a JOIN titems b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS (
  SELECT pa, pb, co_count FROM co
  UNION ALL SELECT pb, pa, co_count FROM co
),
top3 AS (
  SELECT item, neighbor FROM (
    SELECT s.pa AS item, s.pb AS neighbor, s.co_count,
           CAST(s.co_count AS DOUBLE)
             / sqrt(CAST(na.n_orders * nb.n_orders AS DOUBLE)) AS cosine,
           row_number() OVER (PARTITION BY s.pa
             ORDER BY CAST(s.co_count AS DOUBLE)
                      / sqrt(CAST(na.n_orders * nb.n_orders AS DOUBLE)) DESC,
                      s.co_count DESC, s.pb) AS rank
    FROM sym s
    JOIN n_item na ON na.item = s.pa
    JOIN n_item nb ON nb.item = s.pb
  ) WHERE rank <= 3
),
recos AS (
  SELECT DISTINCT t.o_custkey, p.neighbor AS l_partkey
  FROM train t JOIN top3 p ON p.item = t.l_partkey
  WHERE NOT EXISTS (
    SELECT 1 FROM train tr
    WHERE tr.o_custkey = t.o_custkey AND tr.l_partkey = p.neighbor
  )
),
folded AS (
  SELECT
    (SELECT COUNT(DISTINCT o_custkey) FROM train) AS n_users_eval,
    (SELECT COUNT(DISTINCT o_custkey) FROM recos) AS n_users_with_reco,
    (SELECT COUNT(DISTINCT r.o_custkey) FROM recos r
      WHERE EXISTS (SELECT 1 FROM test te
                    WHERE te.o_custkey = r.o_custkey
                      AND te.l_partkey = r.l_partkey)) AS n_hits
)
SELECT n_users_eval, n_users_with_reco, n_hits,
       round(CAST(n_hits AS DOUBLE) / CAST(n_users_with_reco AS DOUBLE), 6)
         AS hit_rate,
       round(CAST(n_hits AS DOUBLE) / CAST(n_users_eval AS DOUBLE), 6)
         AS hit_rate_all_eval
FROM folded
"""

# --- duplicate-payment flags ------------------------------------------------

_DUP_WINDOW_DAYS = 7


def duplicate_payment_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen — the classic AP-audit dedup: pairs of
    orders by the SAME customer for the EXACT same amount within 7
    days of each other (double-submits, double-charges, replayed
    payments). Output: one row per suspect pair with the day gap.

    Shape: a self-join blocked on the (customer, exact cents) key —
    the candidate space is sum(block^2) over same-amount-same-customer
    groups, never orders^2; the date-window predicate is a residual
    filter on the block join. The orderkey < orderkey guard scores
    each unordered pair once. This is the equi-join-shaped form of a
    band join (amount exactness makes the band key exact).

    Determinism: all columns are exact integers/keys."""
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.select(
        "o_custkey",
        "cents",
        F.col("o_orderkey").alias("orderkey_a"),
        F.col("d").alias("da"),
    )
    b = o.select(
        "o_custkey",
        "cents",
        F.col("o_orderkey").alias("orderkey_b"),
        F.col("d").alias("db"),
    )
    return (
        a.join(b, ["o_custkey", "cents"])
        .filter(
            (F.col("orderkey_a") < F.col("orderkey_b"))
            & (F.abs(F.datediff("db", "da")) <= _DUP_WINDOW_DAYS)
        )
        .select(
            "o_custkey",
            "orderkey_a",
            "orderkey_b",
            "cents",
            F.abs(F.datediff("db", "da")).cast("int").alias("day_gap"),
        )
    )


DUPLICATE_PAYMENT_FLAGS_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) AS d
  FROM orders
)
SELECT a.o_custkey, a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
       a.cents,
       CAST(abs(date_diff('day', a.d, b.d)) AS INT) AS day_gap
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.cents = b.cents
 AND a.o_orderkey < b.o_orderkey
 AND abs(date_diff('day', a.d, b.d)) <= {_DUP_WINDOW_DAYS}
"""

# --- ABC (Pareto) inventory classification ----------------------------------


def abc_analysis_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC analysis of parts by discounted revenue: rank parts by
    revenue, classify the head that carries 80% of cumulative revenue
    as A, the next 15% as B, the tail as C — the Pareto inventory
    read behind stocking policy and slow-mover cleanup.

    Shape: ONE revenue aggregation to part grain, one global rank /
    cumulative window over the part domain (part-cardinality work).
    Determinism: revenue accumulates in exact decimal cents; the A/B/C
    boundaries are EXACT DECIMAL comparisons (5*cum <= 4*total for
    80%, 20*cum <= 19*total for 95%) — no double roundoff can flip a
    class; only the display share columns divide."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
            ).cast("decimal(38,0)")
        ).alias("__rev_c")
    )
    w = Window.orderBy(F.desc("__rev_c"), F.asc("l_partkey"))
    tot = rev.agg(F.sum("__rev_c").alias("__tot"))
    ranked = (
        rev.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "__cum",
            F.sum("__rev_c").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .crossJoin(F.broadcast(tot))
    )
    cls = (
        F.when(F.lit(5) * F.col("__cum") <= F.lit(4) * F.col("__tot"), F.lit("A"))
        .when(F.lit(20) * F.col("__cum") <= F.lit(19) * F.col("__tot"), F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return ranked.select(
        "l_partkey",
        "rank",
        F.round(F.col("__rev_c").cast("double") / F.lit(100.0), 2).alias("revenue"),
        F.round(
            F.col("__rev_c").cast("double") / F.col("__tot").cast("double"), 6
        ).alias("revenue_share"),
        F.round(
            F.col("__cum").cast("double") / F.col("__tot").cast("double"), 6
        ).alias("cum_share"),
        cls.alias("abc_class"),
    )


ABC_ANALYSIS_PARTS_SQL = """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice * (1.0e0 - l_discount) * 100)
                  AS DECIMAL(38,0))) AS rev_c
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(rev_c) AS tot FROM rev),
ranked AS (
  SELECT l_partkey, rev_c,
         row_number() OVER (ORDER BY rev_c DESC, l_partkey) AS rank,
         SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM rev
)
SELECT r.l_partkey, CAST(r.rank AS INT) AS rank,
       round(CAST(CAST(r.rev_c AS VARCHAR) AS DOUBLE) / 100.0e0, 2)
         AS revenue,
       round(CAST(CAST(r.rev_c AS VARCHAR) AS DOUBLE)
             / CAST(CAST(t.tot AS VARCHAR) AS DOUBLE), 6) AS revenue_share,
       round(CAST(CAST(r.cum AS VARCHAR) AS DOUBLE)
             / CAST(CAST(t.tot AS VARCHAR) AS DOUBLE), 6) AS cum_share,
       CASE WHEN 5 * r.cum <= 4 * t.tot THEN 'A'
            WHEN 20 * r.cum <= 19 * t.tot THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked r CROSS JOIN tot t
"""

# --- order-velocity fraud flags ---------------------------------------------

_VELOCITY_WINDOW_DAYS = 6  # current day + 6 preceding = 7-day window
_VELOCITY_MIN_ORDERS = 3


def order_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity check — the rate-based fraud/abuse screen: flag every
    order whose customer placed >= 3 orders within the trailing 7
    calendar days (card testing, promo farming, compromised accounts).
    The sliding-count sibling of duplicate_payment_flags' exact-pair
    screen.

    Shape: ONE customer-partitioned RANGE window over integer epoch
    days — no self-join; the window frame does the [d-6, d] count.
    Determinism: counts are exact integer window sums over a
    (day)-keyed RANGE frame (ties all enter the frame together)."""
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("__ed"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("__ed")
        .rangeBetween(-_VELOCITY_WINDOW_DAYS, 0)
    )
    return (
        o.withColumn("orders_7d", F.count(F.lit(1)).over(w))
        .filter(F.col("orders_7d") >= _VELOCITY_MIN_ORDERS)
        .select(
            "o_custkey",
            "o_orderkey",
            "d",
            F.col("orders_7d").cast("int").alias("orders_7d"),
        )
    )


ORDER_VELOCITY_FLAGS_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS ed
  FROM orders
)
SELECT o_custkey, o_orderkey, d, CAST(orders_7d AS INT) AS orders_7d
FROM (
  SELECT *, COUNT(*) OVER (PARTITION BY o_custkey ORDER BY ed
              RANGE BETWEEN {_VELOCITY_WINDOW_DAYS} PRECEDING
              AND CURRENT ROW) AS orders_7d
  FROM o
)
WHERE orders_7d >= {_VELOCITY_MIN_ORDERS}
"""

# --- frequent 3-itemsets ----------------------------------------------------


def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets with 3-way lift — the
    next Apriori level above basket_association_rules' pairs: triples
    co-purchased in >= 2 orders, scored by lift3 = P(abc) /
    (P(a)P(b)P(c)) in EXACT integer form n_abc * N^2 / (n_a n_b n_c).

    Shape: the distinct (order, item) frame self-joins twice ON THE
    ORDER KEY with pa < pb < pc — work bounded by sum(basket^3) with
    single-digit baskets, never catalog-cubed; item supports join onto
    the surviving triples (AQE broadcasts the item side).
    Determinism: all counts exact; lift is one division of
    VARCHAR-routed decimal products."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    c = items.select("l_orderkey", F.col("l_partkey").alias("pc"))
    triples = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .join(c, "l_orderkey")
        .filter(F.col("pb") < F.col("pc"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).alias("n_abc"))
        .filter(F.col("n_abc") >= 2)
    )
    sup = items.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    tot = items.agg(F.countDistinct("l_orderkey").alias("__N"))
    j = (
        triples.join(sup.select(F.col("item").alias("pa"), F.col("n_item").alias("na")), "pa")
        .join(sup.select(F.col("item").alias("pb"), F.col("n_item").alias("nb")), "pb")
        .join(sup.select(F.col("item").alias("pc"), F.col("n_item").alias("nc")), "pc")
        .crossJoin(F.broadcast(tot))
    )
    num = (
        F.col("n_abc").cast("decimal(38,0)")
        * F.col("__N")
        * F.col("__N")
    ).cast("decimal(38,0)")
    den = (
        F.col("na").cast("decimal(38,0)") * F.col("nb") * F.col("nc")
    ).cast("decimal(38,0)")
    return j.select(
        "pa",
        "pb",
        "pc",
        "n_abc",
        F.round(num.cast("double") / den.cast("double"), 4).alias("lift3"),
    ).orderBy("pa", "pb", "pc")


FREQUENT_TRIPLES_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
triples AS (
  SELECT a.pk AS pa, b.pk AS pb, c.pk AS pc, COUNT(*) AS n_abc
  FROM items a
  JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  JOIN items c ON b.ok = c.ok AND b.pk < c.pk
  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
),
sup AS (SELECT pk AS item, COUNT(*) AS n_item FROM items GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT ok) AS N FROM items)
SELECT t.pa, t.pb, t.pc, t.n_abc,
       round(CAST(CAST(CAST(t.n_abc AS DECIMAL(38,0)) * tt.N * tt.N
                       AS DECIMAL(38,0)) AS VARCHAR)::DOUBLE
             / CAST(CAST(CAST(sa.n_item AS DECIMAL(38,0)) * sb.n_item
                         * sc.n_item AS DECIMAL(38,0)) AS VARCHAR)::DOUBLE,
             4) AS lift3
FROM triples t
JOIN sup sa ON sa.item = t.pa
JOIN sup sb ON sb.item = t.pb
JOIN sup sc ON sc.item = t.pc
CROSS JOIN tot tt
ORDER BY t.pa, t.pb, t.pc
"""

# --- Rocchio pseudo-relevance expansion -------------------------------------

_ROCCHIO_TOPK_DOCS = 5
_ROCCHIO_TOPK_TERMS = 10
_ROCCHIO_QUERY = ("spark", "join", "window")  # bm25_search's term set


def rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback: take bm25_search's top-5
    documents as the relevant set, build the TF-IDF centroid of their
    vocabulary, and emit the 10 heaviest non-query terms — the classic
    query-expansion step a retrieval stack runs between the first
    search and the re-query. Consumes the proven BM25 ranking as a
    substrate.

    Shape: the BM25 pipeline (query-term-filtered), one semi-join of
    the token stream against 5 doc ids, vocabulary-grain df join, one
    top-10 cut. Determinism: tf/df are exact; idf rounds the one ln at
    6 (the tf_idf discipline); the top-k window ties break by
    token."""
    from data_integration_case_study_spark.functions import text as T
    from data_integration_case_study_spark.plans.text_queries import (
        _corpus,
        bm25_search,
    )

    rel = bm25_search(spark, sf_dir).filter(
        F.col("rank") <= _ROCCHIO_TOPK_DOCS
    ).select("doc_id")
    c = _corpus(spark, sf_dir)
    toks = c.select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("token")
    )
    n_docs = c.agg(F.countDistinct("doc_id").alias("__n"))
    dfreq = (
        toks.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    rel_tf = (
        toks.join(F.broadcast(rel), "doc_id")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("rel_tf"))
        .filter(~F.col("token").isin(*_ROCCHIO_QUERY))
    )
    idf = F.round(
        F.log(F.col("__n").cast("double") / F.col("df").cast("double")), 6
    )
    scored = (
        rel_tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "rel_tf",
            "df",
            idf.alias("idf"),
            (F.col("rel_tf").cast("double") * idf).alias("__w"),
        )
    )
    wtop = Window.orderBy(F.desc(F.round(F.col("__w"), 6)), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(wtop).cast("int"))
        .filter(F.col("rank") <= _ROCCHIO_TOPK_TERMS)
        .select(
            "token", "rel_tf", "df", "idf",
            F.round("__w", 6).alias("weight"), "rank",
        )
        .orderBy("rank")
    )


def _rocchio_sql() -> str:
    from data_integration_case_study_spark.plans.text_queries import (
        _CORPUS_SQL,
        BM25_SEARCH_SQL,
    )

    terms = ", ".join(f"'{t}'" for t in _ROCCHIO_QUERY)
    return f"""
WITH bm AS MATERIALIZED ({BM25_SEARCH_SQL}),
rel AS (SELECT doc_id FROM bm WHERE rank <= {_ROCCHIO_TOPK_DOCS}),
corpus AS MATERIALIZED ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token
  FROM corpus
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM corpus),
dfreq AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1
),
rel_tf AS (
  SELECT t.token, COUNT(*) AS rel_tf
  FROM toks t JOIN rel r ON r.doc_id = t.doc_id
  WHERE t.token NOT IN ({terms})
  GROUP BY 1
),
scored AS (
  SELECT rt.token, rt.rel_tf, d.df,
         round(ln(CAST(nd.n AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS idf,
         CAST(rt.rel_tf AS DOUBLE)
           * round(ln(CAST(nd.n AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS w
  FROM rel_tf rt JOIN dfreq d ON d.token = rt.token CROSS JOIN nd
)
SELECT token, rel_tf, df, idf, round(w, 6) AS weight, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY round(w, 6) DESC, token) AS rank
  FROM scored
) WHERE rank <= {_ROCCHIO_TOPK_TERMS}
ORDER BY rank
"""

# --- recommendation catalog coverage ----------------------------------------


def rec_catalog_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-diversity audit of the item-item recommender: what
    share of the purchasable catalog ever appears in a top-3
    also-bought list (catalog coverage), and how concentrated the
    recommendation EXPOSURE is across those items (exact Gini over
    per-item slot counts) — low coverage + high Gini is the
    popularity-feedback-loop signature rec_hitrate_eval's accuracy
    number cannot see.

    Shape: the shared basket-bounded similarity build, item-domain
    aggregations, one rank window over the exposed-item domain.
    Determinism: counts exact; Gini is the rank-weighted exact-integer
    form (lorenz discipline); ratios are single divisions."""
    from data_integration_case_study_spark.plans.stats_queries import (
        item_item_cosine,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    catalog = li.select(F.col("l_partkey").alias("item")).distinct()
    top3 = item_item_cosine(spark, sf_dir)
    exposure = top3.groupBy(F.col("neighbor").alias("item")).agg(
        F.count(F.lit(1)).alias("slots")
    )
    w = Window.orderBy(F.asc("slots"), F.asc("item"))
    gparts = (
        exposure.withColumn("__i", F.row_number().over(w))
        .agg(
            F.count(F.lit(1)).alias("__k"),
            F.sum("slots").alias("__tot"),
            F.sum(F.col("__i").cast("decimal(38,0)") * F.col("slots")).alias(
                "__iw"
            ),
        )
    )
    kd = F.col("__k").cast("double")
    gini = (
        F.lit(2.0) * F.col("__iw").cast("double")
        / (kd * F.col("__tot").cast("double"))
        - (kd + F.lit(1.0)) / kd
    )
    n_cat = catalog.agg(F.count(F.lit(1)).alias("n_catalog"))
    return (
        gparts.crossJoin(F.broadcast(n_cat))
        .select(
            "n_catalog",
            F.col("__k").alias("n_recommended"),
            F.col("__tot").alias("n_slots"),
            F.round(F.col("__k").cast("double") / F.col("n_catalog").cast("double"), 6).alias(
                "catalog_coverage"
            ),
            F.round(gini, 6).alias("exposure_gini"),
        )
    )


def _rec_coverage_sql() -> str:
    from data_integration_case_study_spark.plans.stats_queries import (
        ITEM_ITEM_COSINE_SQL,
    )

    return f"""
WITH top3 AS MATERIALIZED ({ITEM_ITEM_COSINE_SQL}),
catalog AS (SELECT DISTINCT l_partkey AS item FROM lineitem),
exposure AS (
  SELECT neighbor AS item, COUNT(*) AS slots FROM top3 GROUP BY 1
),
ranked AS (
  SELECT slots, row_number() OVER (ORDER BY slots, item) AS i FROM exposure
),
gparts AS (
  SELECT COUNT(*) AS k, SUM(slots) AS tot,
         SUM(CAST(i AS DECIMAL(38,0)) * slots) AS iw
  FROM ranked
),
n_cat AS (SELECT COUNT(*) AS n_catalog FROM catalog)
SELECT n.n_catalog, g.k AS n_recommended, CAST(g.tot AS BIGINT) AS n_slots,
       round(CAST(g.k AS DOUBLE) / CAST(n.n_catalog AS DOUBLE), 6)
         AS catalog_coverage,
       round(2.0e0 * CAST(CAST(g.iw AS VARCHAR) AS DOUBLE)
             / (CAST(g.k AS DOUBLE) * CAST(g.tot AS DOUBLE))
             - (CAST(g.k AS DOUBLE) + 1.0e0) / CAST(g.k AS DOUBLE), 6)
         AS exposure_gini
FROM gparts g CROSS JOIN n_cat n
"""


QUERIES = {
    "rec_hitrate_eval": rec_hitrate_eval,
    "duplicate_payment_flags": duplicate_payment_flags,
    "abc_analysis_parts": abc_analysis_parts,
    "order_velocity_flags": order_velocity_flags,
    "frequent_triples": frequent_triples,
    "rocchio_expansion": rocchio_expansion,
    "rec_catalog_coverage": rec_catalog_coverage,
}

ORACLES = {
    "rec_hitrate_eval": REC_HITRATE_EVAL_SQL,
    "duplicate_payment_flags": DUPLICATE_PAYMENT_FLAGS_SQL,
    "abc_analysis_parts": ABC_ANALYSIS_PARTS_SQL,
    "order_velocity_flags": ORDER_VELOCITY_FLAGS_SQL,
    "frequent_triples": FREQUENT_TRIPLES_SQL,
    "rocchio_expansion": _rocchio_sql(),
    "rec_catalog_coverage": _rec_coverage_sql(),
}

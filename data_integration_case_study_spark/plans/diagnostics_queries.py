"""Model-diagnostics & inference continuation batch (round 4, late):
link-analysis (HITS), isotonic calibration (PAV), and multiple-testing
control (randomization test + Benjamini-Hochberg).

Provenance: the reference's analysis surface is eager pandas profiling
(data_analysis.py); these are the next diagnostics an integrated
warehouse feeds — each re-expressed as bounded-shuffle Spark dataflow
with a DuckDB oracle twin.

Determinism discipline (repo-wide, see plans/mining_queries.py): exact
integer/decimal aggregation wherever order could matter, fixed IEEE
chains from exactly-converted integers, hash-derived pseudo-randomness
(never RNG state), and explicit tie-breaks under every window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.numeric import dsum_sql
from data_integration_case_study_spark.functions.text import hash60, hash60_sql
from data_integration_case_study_spark.operators.dedup import (
    _MERSENNE,
    _affine_params,
)
from data_integration_case_study_spark.sources.readers import read_parquet_table


# --- HITS hubs & authorities over the kNN graph -----------------------------


def hits_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the directed kNN graph (2 fixed
    rounds, operators/graph.hits): the mutual-reinforcement complement
    of pagerank_knn — a vector is a strong AUTHORITY when many
    well-connected vectors pick it as a neighbor (a semantic exemplar
    worth keeping), a strong HUB when its own neighbor list lands on
    exemplars (a good expansion seed). Curation pipelines read the two
    scores separately: authorities seed dedup canonicals, hubs seed
    diverse sampling.

    Same substrate and discipline as pagerank_knn: the kNN edge list is
    tracked-cache persisted (it feeds all four half-rounds), per-round
    sums are decimal-snapped, and the oracle unrolls every half-round
    exactly."""
    from data_integration_case_study_spark.operators import cache, similarity
    from data_integration_case_study_spark.operators.graph import hits

    e = read_parquet_table(spark, sf_dir, "embeddings")
    edges = cache.track(
        similarity.knn_graph(e, k=3).select("src_id", "nbr_id")
    )
    out = hits(edges, src="src_id", dst="nbr_id", rounds=2)
    return out.select(
        F.col("id").alias("vec_id"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def _hits_half_sql(scores: str, col: str, edge_key: str, group_key: str, out: str, name: str) -> str:
    return f"""{name}_raw AS (
  SELECT n.id, coalesce(x.v, 0.0) AS v
  FROM nodes n LEFT JOIN (
    SELECT e.{group_key} AS id, {dsum_sql(f"p.{col}", 12)} AS v
    FROM edges e JOIN {scores} p ON p.id = e.{edge_key}
    GROUP BY e.{group_key}
  ) x ON x.id = n.id
),
{name} AS (
  SELECT r.id, r.v / t.s AS {out}
  FROM {name}_raw r CROSS JOIN
       (SELECT {dsum_sql("v", 12)} AS s FROM {name}_raw) t
)"""


def _hits_knn_sql() -> str:
    from data_integration_case_study_spark.plans.vector_queries import (
        KNN_GRAPH_SQL,
    )

    # MATERIALIZED: edges feeds all four unrolled half-rounds — without
    # it DuckDB re-inlines (and re-computes) the whole kNN-graph CTE at
    # every reference (the kcore_copurchase lesson)
    return f"""
WITH g AS ({KNN_GRAPH_SQL}),
edges AS MATERIALIZED (SELECT src_id AS s, nbr_id AS d FROM g),
nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT s AS id FROM edges UNION ALL SELECT d FROM edges
  )
),
a0 AS (SELECT id, 1.0e0 AS a FROM nodes),
{_hits_half_sql("a0", "a", "d", "s", "h", "h1")},
{_hits_half_sql("h1", "h", "s", "d", "a", "a1")},
{_hits_half_sql("a1", "a", "d", "s", "h", "h2")},
{_hits_half_sql("h2", "h", "s", "d", "a", "a2")}
SELECT h2.id AS vec_id, round(h2.h, 6) AS hub, round(a2.a, 6) AS authority
FROM h2 JOIN a2 ON a2.id = h2.id
"""


# --- isotonic calibration (pool-adjacent-violators) -------------------------

_ISO_BINS = 16


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the bigram-LM quality score as a
    P(English) predictor: rank the scored corpus into 16 equal-count
    bins, then fit the MONOTONE step function closest (weighted L2) to
    the per-bin positive rates — the standard post-hoc calibrator
    applied after calibration_bins_quality's reliability diagram shows
    the raw score is miscalibrated. Output: one row per bin with raw
    and isotonic rates (isotonic_rate is non-decreasing by
    construction; a pytest replays scikit-style stack PAV against it).

    The PAV fit uses the exact minimax characterization
    fit_i = max_{j<=i} min_{k>=i} Avg(j..k) over the BIN GRID (16^3
    combinations — driver-free, constant work regardless of corpus
    size), where every Avg is one IEEE division of exact integer
    prefix sums, so both engines compute bit-identical fits with no
    iterative pooling loop.

    Scale shape: scoring is bigram_doc_scores' bounded plan; bin
    assignment is a rank window over the (doc_id, score) SUMMARY, not
    the corpus (at 100 TB you'd swap the exact ntile for broadcast
    approx-quantile cuts; the ntile keeps the oracle rank-exact).
    Everything after the 16-row aggregation is constant-size."""
    from data_integration_case_study_spark.plans import pipeline_queries

    scores = pipeline_queries.bigram_doc_scores(spark, sf_dir)
    d = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("pos")
    )
    lab = scores.join(d, "doc_id").select("doc_id", "avg_logprob", "pos")
    binned = lab.withColumn(
        "bin",
        F.ntile(_ISO_BINS).over(Window.orderBy("avg_logprob", "doc_id")),
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum("pos").alias("s"),
        F.min("avg_logprob").alias("score_lo"),
        F.max("avg_logprob").alias("score_hi"),
    )
    cum = per.select(
        "bin",
        "w",
        "s",
        "score_lo",
        "score_hi",
        F.sum("w").over(Window.orderBy("bin")).alias("cw"),
        F.sum("s").over(Window.orderBy("bin")).alias("cs"),
    )
    j = cum.select(
        F.col("bin").alias("j"),
        (F.col("cw") - F.col("w")).alias("cw_jm1"),
        (F.col("cs") - F.col("s")).alias("cs_jm1"),
    )
    k = cum.select(
        F.col("bin").alias("k"), F.col("cw").alias("cw_k"), F.col("cs").alias("cs_k")
    )
    # the grid frames are <= _ISO_BINS rows but sit behind aggregations,
    # so the planner's size estimate can miss the broadcast threshold and
    # fall back to CartesianProduct — hint explicitly (plan-shape test
    # asserts no CartesianProduct anywhere in the catalog)
    pairs = j.crossJoin(F.broadcast(k)).filter(F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cs_k") - F.col("cs_jm1")).cast("double")
            / (F.col("cw_k") - F.col("cw_jm1")).cast("double")
        ).alias("avg_jk"),
    )
    bins = cum.select(F.col("bin").alias("i"))
    inner = (
        bins.crossJoin(F.broadcast(pairs))
        .filter((F.col("j") <= F.col("i")) & (F.col("i") <= F.col("k")))
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("min_avg"))
    )
    iso = inner.groupBy("i").agg(F.max("min_avg").alias("isotonic_rate"))
    return (
        per.join(iso, per.bin == iso.i)
        .select(
            "bin",
            F.col("w").alias("n_docs"),
            F.col("s").alias("n_pos"),
            "score_lo",
            "score_hi",
            (F.col("s").cast("double") / F.col("w").cast("double")).alias(
                "raw_rate"
            ),
            "isotonic_rate",
        )
        .orderBy("bin")
    )


def _isotonic_calibration_sql() -> str:
    from data_integration_case_study_spark.plans.pipeline_queries import (
        BIGRAM_DOC_SCORES_SQL,
    )

    return f"""
WITH scores AS ({BIGRAM_DOC_SCORES_SQL}),
lab AS (
  SELECT s.doc_id, s.avg_logprob,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM scores s JOIN documents d ON d.doc_id = s.doc_id
),
binned AS (
  SELECT pos, avg_logprob,
         ntile({_ISO_BINS}) OVER (ORDER BY avg_logprob, doc_id) AS bin
  FROM lab
),
per AS (
  SELECT bin, COUNT(*) AS w, SUM(pos) AS s,
         MIN(avg_logprob) AS score_lo, MAX(avg_logprob) AS score_hi
  FROM binned GROUP BY bin
),
cum AS (
  SELECT bin, w, s, score_lo, score_hi,
         SUM(w) OVER (ORDER BY bin) AS cw,
         SUM(s) OVER (ORDER BY bin) AS cs
  FROM per
),
pairs AS (
  SELECT j.bin AS j, k.bin AS k,
         CAST(k.cs - (j.cs - j.s) AS DOUBLE)
           / CAST(k.cw - (j.cw - j.w) AS DOUBLE) AS avg_jk
  FROM cum j JOIN cum k ON j.bin <= k.bin
),
inner_min AS (
  SELECT i.bin AS i, p.j, MIN(p.avg_jk) AS min_avg
  FROM cum i JOIN pairs p ON p.j <= i.bin AND i.bin <= p.k
  GROUP BY i.bin, p.j
),
iso AS (SELECT i, MAX(min_avg) AS isotonic_rate FROM inner_min GROUP BY i)
SELECT per.bin, per.w AS n_docs, CAST(per.s AS BIGINT) AS n_pos,
       per.score_lo, per.score_hi,
       CAST(per.s AS DOUBLE) / CAST(per.w AS DOUBLE) AS raw_rate,
       iso.isotonic_rate
FROM per JOIN iso ON iso.i = per.bin
"""


# --- randomization test + Benjamini-Hochberg FDR ----------------------------

_PERM_R = 64
_PERM_SEED = 1811
_PERM_GROUPS = 25  # nation key domain 0..24
_PERM_ALPHA_NUM, _PERM_ALPHA_DEN = 1, 10  # alpha = 0.1


def permutation_fdr_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation mean-order-value effect screen with multiple-testing
    control: a randomization test per nation (is this nation's mean
    order total further from the grand mean than chance relabeling
    explains?) followed by an EXACT Benjamini-Hochberg step-up at
    FDR 0.1 across the 25 nations — the screen an analytics team runs
    before trusting 25 simultaneous "nation X over-indexes" readouts.

    Null model: order values are exchangeable w.r.t. nation — each
    replica REASSIGNS every order a uniform pseudo-nation and recomputes
    every group's |mean - grand mean|. Draws are hash-derived (one
    sha256 per order; replica r's label is the affine permutation
    (a_r*h + b_r) mod p of the row hash, mod 25 — bootstrap_ci_revenue's
    one-hash-per-row trick), so the test is deterministic on any
    cluster. p = (1 + #{r : T_r >= T_obs}) / (R + 1), all integer
    counting; a replica whose pseudo-group came up empty contributes no
    exceedance (both engines see the identical missing set).

    The BH step-up is integer-exact: p_(k) <= alpha*k/m compares as
    alpha_den * m * p_num <= (R+1) * alpha_num * k — no floating
    thresholds anywhere, so the reject set is bit-reproducible.

    Scale shape: one orders×customer equi-join (observed), one 64-way
    map-only explode with ONE sha256 per fact row, one (replica, group)
    aggregation with map-side combine (1600 groups), then constant-size
    BH windows. Means divide exact integer cent sums (< 2^53 at any
    plausible SF) — every statistic is bit-identical cross-engine."""
    o = read_parquet_table(spark, sf_dir, "orders")
    c = read_parquet_table(spark, sf_dir, "customer")
    n = read_parquet_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    fact = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", cents.alias("cents"), F.col("c_nationkey").alias("g")
    )
    grand = fact.agg(
        F.count(F.lit(1)).alias("gn"), F.sum("cents").alias("gs")
    )
    grand_mean = F.col("gs").cast("double") / F.col("gn").cast("double")
    obs = (
        fact.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("s"))
        .crossJoin(F.broadcast(grand))
        .select(
            "g",
            "n_orders",
            F.abs(
                F.col("s").cast("double") / F.col("n_orders").cast("double")
                - grand_mean
            ).alias("t_obs"),
        )
    )
    params = _affine_params(_PERM_R, _PERM_SEED)
    arr_a = F.array(*[F.lit(a) for a, _ in params])
    arr_b = F.array(*[F.lit(b) for _, b in params])
    pseudo = (
        F.element_at(arr_a, F.col("rep") + 1) * F.col("__h")
        + F.element_at(arr_b, F.col("rep") + 1)
    ) % F.lit(_MERSENNE) % F.lit(_PERM_GROUPS)
    null_stats = (
        fact.select(
            "cents",
            (hash60(F.col("o_orderkey").cast("string")) % F.lit(_MERSENNE)).alias(
                "__h"
            ),
        )
        .select(
            "cents",
            "__h",
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_R - 1))).alias("rep"),
        )
        .select("cents", "rep", pseudo.cast("int").alias("g"))
        .groupBy("rep", "g")
        .agg(F.count(F.lit(1)).alias("rn"), F.sum("cents").alias("rs"))
        .crossJoin(F.broadcast(grand))
        .select(
            "rep",
            "g",
            F.abs(
                F.col("rs").cast("double") / F.col("rn").cast("double")
                - grand_mean
            ).alias("t_r"),
        )
    )
    exceed = (
        obs.join(null_stats, "g", "left")
        .groupBy("g", "n_orders", "t_obs")
        .agg(
            F.sum(
                F.when(F.col("t_r") >= F.col("t_obs"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("n_exceed")
        )
        .select(
            "g",
            "n_orders",
            "t_obs",
            (F.col("n_exceed") + 1).alias("p_num"),
        )
    )
    named = exceed.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("g"), "n_name")), "g"
    )
    rk = Window.orderBy("p_num", "n_name")
    ranked = named.select(
        "n_name",
        "n_orders",
        "t_obs",
        "p_num",
        (F.col("p_num").cast("double") / F.lit(float(_PERM_R + 1))).alias(
            "p_value"
        ),
        F.row_number().over(rk).alias("bh_rank"),
    )
    flag_rank = F.when(
        F.col("p_num") * _PERM_ALPHA_DEN * _PERM_GROUPS
        <= (_PERM_R + 1) * _PERM_ALPHA_NUM * F.col("bh_rank"),
        F.col("bh_rank"),
    )
    full = Window.orderBy("bh_rank").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ranked.select(
        "n_name",
        "n_orders",
        "t_obs",
        "p_num",
        "p_value",
        "bh_rank",
        (F.col("bh_rank") <= F.coalesce(F.max(flag_rank).over(full), F.lit(0))).alias(
            "bh_reject"
        ),
    ).orderBy("bh_rank")


def _permutation_fdr_sql() -> str:
    params = _affine_params(_PERM_R, _PERM_SEED)
    la = "[" + ", ".join(str(a) for a, _ in params) + "]"
    lb = "[" + ", ".join(str(b) for _, b in params) + "]"
    r1 = _PERM_R + 1
    return f"""
WITH fact AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         c_nationkey AS g
  FROM orders JOIN customer ON o_custkey = c_custkey
),
grand AS (SELECT COUNT(*) AS gn, SUM(cents) AS gs FROM fact),
obs AS (
  SELECT g, COUNT(*) AS n_orders,
         abs(CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             - CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)) AS t_obs
  FROM fact, grand GROUP BY g, gn, gs
),
ex AS (
  SELECT cents,
         {hash60_sql("CAST(o_orderkey AS VARCHAR)")} % {_MERSENNE} AS h,
         unnest(generate_series(0, {_PERM_R - 1})) AS rep
  FROM fact
),
null_stats AS (
  SELECT rep, g,
         abs(CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             - (SELECT CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE) FROM grand))
           AS t_r
  FROM (
    SELECT rep, cents,
           CAST((({la}[CAST(rep AS INT) + 1] * h
                  + {lb}[CAST(rep AS INT) + 1]) % {_MERSENNE})
                % {_PERM_GROUPS} AS INT) AS g
    FROM ex
  ) GROUP BY rep, g
),
exceed AS (
  SELECT o.g, o.n_orders, o.t_obs,
         1 + COALESCE(SUM(CASE WHEN ns.t_r >= o.t_obs THEN 1 ELSE 0 END), 0)
           AS p_num
  FROM obs o LEFT JOIN null_stats ns ON ns.g = o.g
  GROUP BY o.g, o.n_orders, o.t_obs
),
ranked AS (
  SELECT n.n_name, e.n_orders, e.t_obs, e.p_num,
         CAST(e.p_num AS DOUBLE) / {float(r1)} AS p_value,
         row_number() OVER (ORDER BY e.p_num, n.n_name) AS bh_rank
  FROM exceed e JOIN nation n ON n.n_nationkey = e.g
)
SELECT n_name, n_orders, t_obs, CAST(p_num AS BIGINT) AS p_num,
       p_value, bh_rank,
       bh_rank <= COALESCE(MAX(CASE
           WHEN p_num * {_PERM_ALPHA_DEN * _PERM_GROUPS}
                <= {r1 * _PERM_ALPHA_NUM} * bh_rank
           THEN bh_rank END) OVER (), 0) AS bh_reject
FROM ranked
"""


# --- iterative proportional fitting (raking) --------------------------------

_IPF_ROUNDS = 3


def ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of a SAMPLED
    status x priority contingency table to the FULL table's row and
    column margins — the survey-weighting / synthetic-data calibration
    primitive: given cell counts from a biased or partial capture (here
    the even-orderkey half), reweight cells so both marginal totals
    match known control totals. 3 fixed rounds of row-scale + col-scale
    half-steps (the classic Deming-Stephan loop), round-unrolled in the
    oracle exactly like kmeans/pagerank/IRLS.

    Determinism: starting weights and margin targets are exact integer
    counts; each half-step divides by a decimal-snapped margin sum
    (order-independent under any partitioning) and multiplies IEEE —
    both engines replay the identical chain, so raked weights are
    bit-identical with no rounding anywhere.

    Scale shape: two fact aggregations (sample cells, full margins) do
    all the data work; the loop runs on the 15-cell summary with
    windowed margin sums — constant cost at any SF. A pytest asserts
    the raked column margins hit the targets exactly (last step is a
    col-scale) and row margins converge."""
    o = read_parquet_table(spark, sf_dir, "orders")
    sample = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_sample"))
    )
    rowm = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("r_target"))
    colm = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("c_target"))
    cells = (
        sample.join(F.broadcast(rowm), "o_orderstatus")
        .join(F.broadcast(colm), "o_orderpriority")
        .withColumn("w", F.col("n_sample").cast("double"))
    )

    def _scale(df: DataFrame, key: str, tgt: str) -> DataFrame:
        win = Window.partitionBy(key)
        s = (
            F.sum(F.col("w").cast("decimal(38,8)")).over(win).cast("double")
        )
        return df.withColumn("w", F.col("w") * F.col(tgt) / s)

    for _ in range(_IPF_ROUNDS):
        cells = _scale(cells, "o_orderstatus", "r_target")
        cells = _scale(cells, "o_orderpriority", "c_target")
    return cells.select(
        "o_orderstatus",
        "o_orderpriority",
        "n_sample",
        "r_target",
        "c_target",
        F.col("w").alias("raked_weight"),
    ).orderBy("o_orderstatus", "o_orderpriority")


def _ipf_half_sql(prev: str, key: str, tgt: str, out: str) -> str:
    return f"""{out} AS (
  SELECT o_orderstatus, o_orderpriority, n_sample, r_target, c_target,
         w * {tgt} / CAST(CAST(SUM(CAST(w AS DECIMAL(38,8)))
             OVER (PARTITION BY {key}) AS VARCHAR) AS DOUBLE) AS w
  FROM {prev}
)"""


def _ipf_raking_sql() -> str:
    halves = []
    prev = "w0"
    for r in range(_IPF_ROUNDS):
        halves.append(_ipf_half_sql(prev, "o_orderstatus", "r_target", f"r{r}"))
        halves.append(_ipf_half_sql(f"r{r}", "o_orderpriority", "c_target", f"c{r}"))
        prev = f"c{r}"
    joined = ",\n".join(halves)
    return f"""
WITH sample AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_sample
  FROM orders WHERE o_orderkey % 2 = 0
  GROUP BY o_orderstatus, o_orderpriority
),
rowm AS (
  SELECT o_orderstatus, COUNT(*) AS r_target FROM orders GROUP BY o_orderstatus
),
colm AS (
  SELECT o_orderpriority, COUNT(*) AS c_target
  FROM orders GROUP BY o_orderpriority
),
w0 AS (
  SELECT s.o_orderstatus, s.o_orderpriority, s.n_sample,
         r.r_target, c.c_target, CAST(s.n_sample AS DOUBLE) AS w
  FROM sample s
  JOIN rowm r ON r.o_orderstatus = s.o_orderstatus
  JOIN colm c ON c.o_orderpriority = s.o_orderpriority
),
{joined}
SELECT o_orderstatus, o_orderpriority, n_sample, r_target, c_target,
       w AS raked_weight
FROM {prev}
"""


# --- motif discovery over the daily-revenue series --------------------------

_MOTIF_LEN = 7
_MOTIF_TOPK = 5


def motif_discovery_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-profile-style motif discovery: the 5 most similar pairs
    of NON-OVERLAPPING 7-day windows in the daily revenue
    series, similarity = Pearson correlation of the aligned windows
    (the z-normalized-distance ranking, since dist^2 = 2m(1 - corr)) —
    "which two weeks, anywhere in history, traced the same shape?" is
    the recurring-pattern / template-mining question behind demand
    planning and anomaly triage.

    Shape: facts collapse to the day grid; each valid window (7
    CONSECUTIVE calendar days — a rows-frame collect_list, validated by
    last-day arithmetic, so gap-spanning frames are dropped) carries
    its value array + exact moment sums; the pair stage is an
    inequality self-join of the WINDOW GRID (grid^2 pairs, calendar-
    bounded and independent of fact cardinality — the theil_sen
    precedent; production matrix profile at millions of points uses
    MASS/FFT, documented not implemented). The 7-term dot product runs
    inside the join projection via zip_with/aggregate — no explode.

    Determinism: daily series in exact floor-DOLLAR units (the
    jarque_bera width budget: keeps every moment product < 2^53 even
    at 100x revenue, so doubles are exact integers); corr is a fixed
    IEEE chain over exactly-cast integers; ranking breaks corr ties by
    the window-start pair."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("long")
            .alias("cents")
        )
        .select(
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).alias("t"),
            F.expr("cents DIV 100").alias("x"),
        )
    )
    m = _MOTIF_LEN
    wf = Window.orderBy("t").rowsBetween(0, m - 1)
    wins = (
        daily.select(
            "t",
            F.collect_list("x").over(wf).alias("vals"),
            F.last("t").over(wf).alias("t_last"),
        )
        .filter(
            (F.size("vals") == m) & (F.col("t_last") == F.col("t") + m - 1)
        )
        .select(
            "t",
            "vals",
            F.aggregate(
                "vals", F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("s"),
            F.aggregate(
                "vals", F.lit(0).cast("long"), lambda acc, x: acc + x * x
            ).alias("q"),
        )
    )
    from data_integration_case_study_spark.operators import cache

    # wins feeds both self-join sides (two full orders scans + the day
    # window otherwise), and the window frame collapses to ~1 post-AQE
    # partition — so unspread, the inequality join would stream its
    # ~grid² pairs (and their per-pair 7-term dot products) through ONE
    # task. Persist once, spread the streamed side to the cluster
    # parallelism (calendar-bounded frame: both are O(days) rows).
    wins = cache.track(wins)
    b = wins.select(
        F.col("t").alias("t2"),
        F.col("vals").alias("vals2"),
        F.col("s").alias("s2"),
        F.col("q").alias("q2"),
    )
    mm = F.lit(m).cast("long")
    p = F.aggregate(
        F.zip_with("vals", "vals2", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    num = (mm * p - F.col("s") * F.col("s2")).cast("double")
    va = (mm * F.col("q") - F.col("s") * F.col("s")).cast("double")
    vb = (mm * F.col("q2") - F.col("s2") * F.col("s2")).cast("double")
    pairs = (
        wins.repartition(spark.sparkContext.defaultParallelism)
        .join(b, F.col("t2") >= F.col("t") + m)
        .select(
            "t",
            "t2",
            "s",
            "s2",
            (num / (F.sqrt(va) * F.sqrt(vb))).alias("corr"),
            va.alias("__va"),
            vb.alias("__vb"),
        )
        .filter((F.col("__va") > 0) & (F.col("__vb") > 0))
    )
    rk = Window.orderBy(F.col("corr").desc(), "t", "t2")
    return (
        pairs.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= _MOTIF_TOPK)
        .select(
            "rank",
            F.col("t").alias("start_a"),
            F.col("t2").alias("start_b"),
            "corr",
            F.col("s").alias("dollars_a"),
            F.col("s2").alias("dollars_b"),
        )
    )


_MOTIF_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS t,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
              AS BIGINT) // 100 AS x
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
framed AS (
  SELECT t,
         list(x) OVER w AS vals,
         last_value(t) OVER w AS t_last
  FROM daily
  WINDOW w AS (ORDER BY t ROWS BETWEEN CURRENT ROW AND {_MOTIF_LEN - 1} FOLLOWING)
),
wins AS MATERIALIZED (
  SELECT t, vals,
         list_sum(vals) AS s,
         list_sum(list_transform(vals, x -> x * x)) AS q
  FROM framed
  WHERE len(vals) = {_MOTIF_LEN} AND t_last = t + {_MOTIF_LEN - 1}
),
pairs AS (
  SELECT a.t AS t, b.t AS t2, a.s AS s, b.s AS s2,
         CAST({_MOTIF_LEN} * list_sum(
                 list_transform(generate_series(1, {_MOTIF_LEN}),
                                i -> a.vals[i] * b.vals[i]))
              - a.s * b.s AS DOUBLE)
           / (sqrt(CAST({_MOTIF_LEN} * a.q - a.s * a.s AS DOUBLE))
              * sqrt(CAST({_MOTIF_LEN} * b.q - b.s * b.s AS DOUBLE))) AS corr
  FROM wins a JOIN wins b ON b.t >= a.t + {_MOTIF_LEN}
  WHERE {_MOTIF_LEN} * a.q - a.s * a.s > 0
    AND {_MOTIF_LEN} * b.q - b.s * b.s > 0
)
SELECT rank, start_a, start_b, corr,
       CAST(dollars_a AS BIGINT) AS dollars_a,
       CAST(dollars_b AS BIGINT) AS dollars_b FROM (
  SELECT row_number() OVER (ORDER BY corr DESC, t, t2) AS rank,
         t AS start_a, t2 AS start_b, corr, s AS dollars_a, s2 AS dollars_b
  FROM pairs
)
WHERE rank <= {_MOTIF_TOPK}
"""


# --- Simpson's-paradox scan -------------------------------------------------


def simpsons_paradox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-reversal audit: the quantity-price association in
    lineitem, pooled AND within each returnflag stratum, with a flag on
    any stratum whose covariance SIGN disagrees with the pooled sign —
    the Simpson's-paradox detector an analytics platform runs before
    publishing a pooled correlation (a reversed stratum means the
    pooled readout is confounded by group composition and must not be
    quoted unstratified).

    One ROLLUP aggregation produces strata + pooled in a single pass;
    the sign test is an exact integer comparison (cov_num =
    n*Sxy - Sx*Sy in decimal — quantity integral by construction,
    price in floor dollars), so reversal flags are bit-reproducible.
    corr itself divides the correctly-rounded cast of cov_num by the
    exact variance chains (the VARCHAR-route discipline). Width
    budget (jarque_bera precedent): 18-digit operand casts keep every
    product exact through ~10x this SF's revenue; beyond that rescale
    the price unit.

    Scale shape: one fact scan, one rollup agg (4 output rows), one
    constant window for the pooled sign."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x"),
        F.expr("CAST(round(l_extendedprice * 100) AS LONG) DIV 100").alias("y"),
    )
    d18 = "decimal(18,0)"
    agg = base.rollup("l_returnflag").agg(
        F.count(F.lit(1)).cast(d18).alias("n"),
        F.sum(F.col("x").cast(d18)).alias("sx"),
        F.sum(F.col("y").cast(d18)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d18)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d18)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d18)).alias("syy"),
    )
    cov_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    sign = (
        F.when(cov_num > 0, F.lit(1))
        .when(cov_num < 0, F.lit(-1))
        .otherwise(F.lit(0))
    )
    rows = agg.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("stratum"),
        F.col("n").cast("long").alias("n_rows"),
        (
            cov_num.cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        ).alias("corr"),
        sign.alias("cov_sign"),
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled = F.max(
        F.when(F.col("stratum") == "ALL", F.col("cov_sign"))
    ).over(full)
    return rows.select(
        "stratum",
        "n_rows",
        "corr",
        "cov_sign",
        pooled.alias("pooled_sign"),
        ((F.col("cov_sign") != pooled) & (F.col("stratum") != "ALL")).alias(
            "reversed"
        ),
    ).orderBy("stratum")


_SIMPSONS_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS y
  FROM lineitem
),
agg AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DECIMAL(18,0)) AS n,
         SUM(CAST(x AS DECIMAL(18,0))) AS sx,
         SUM(CAST(y AS DECIMAL(18,0))) AS sy,
         SUM(CAST(x * y AS DECIMAL(18,0))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(18,0))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(18,0))) AS syy
  FROM base GROUP BY ROLLUP (l_returnflag)
),
rows_ AS (
  SELECT COALESCE(l_returnflag, 'ALL') AS stratum,
         CAST(n AS BIGINT) AS n_rows,
         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
           / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
              * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
           AS corr,
         CASE WHEN n * sxy - sx * sy > 0 THEN 1
              WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS cov_sign
  FROM agg
)
SELECT stratum, n_rows, corr, cov_sign,
       MAX(CASE WHEN stratum = 'ALL' THEN cov_sign END) OVER () AS pooled_sign,
       cov_sign <> MAX(CASE WHEN stratum = 'ALL' THEN cov_sign END) OVER ()
         AND stratum <> 'ALL' AS reversed
FROM rows_
"""


# --- byte-entropy quality filter over multimodal payloads -------------------

_LN2 = 0.6931471805599453


def payload_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload byte-histogram Shannon entropy over the multimodal
    binary column — the content-agnostic quality/anomaly screen a media
    ingest pipeline runs BEFORE decoding: near-zero entropy flags
    padding/corrupt constant blobs, near-8-bit entropy flags
    already-compressed or encrypted payloads that a re-compression
    stage should skip. Works on any payload since it never interprets
    the bytes (here the payloads are attach_payload's UTF-8 fixtures).

    Byte extraction is pure column algebra — hex(payload) sliced into
    2-char octets via a sequence explode (no UDF; both engines hex
    uppercase) — then entropy_census's exact formula per doc:
    nats = round(ln(n),9) - sum(c * round(ln(c),9))/n with the weighted
    sum in exact (18,0)x(19,9) decimal, bits = nats/ln(2), rounded 6.

    Scale shape: one map-only explode (rows = total payload bytes),
    one (doc, byte) count with map-side combine, one per-doc agg.
    Payload bytes never enter a shuffle wider than the 256-value octet
    domain per doc."""
    d = read_parquet_table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        F.hex(F.encode(F.col("text"), "UTF-8")).alias("hx"),
        F.length(F.encode(F.col("text"), "UTF-8")).alias("nb"),
    )
    octets = p.select(
        "doc_id",
        "nb",
        F.expr(
            "explode(transform(sequence(0, nb - 1), i -> substring(hx, 2*i+1, 2)))"
        ).alias("b"),
    )
    counts = octets.groupBy("doc_id", "nb", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = counts.groupBy("doc_id", "nb").agg(
        F.count(F.lit(1)).alias("n_distinct_bytes"),
        F.sum(
            F.col("c").cast("decimal(18,0)")
            * F.round(F.log("c"), 9).cast("decimal(19,9)")
        ).alias("__wsum"),
    )
    nats = F.round(F.log(F.col("nb").cast("double")), 9) - (
        F.col("__wsum").cast("double") / F.col("nb").cast("double")
    )
    return agg.select(
        "doc_id",
        F.col("nb").cast("long").alias("n_bytes"),
        "n_distinct_bytes",
        F.round(nats / F.lit(_LN2), 6).alias("entropy_bits"),
    )


_PAYLOAD_ENTROPY_SQL = """
WITH p AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
  FROM documents
),
octets AS (
  SELECT doc_id, nb, substring(hx, 2 * i + 1, 2) AS b
  FROM (SELECT doc_id, nb, hx,
               unnest(generate_series(0, nb - 1)) AS i
        FROM p)
),
counts AS (
  SELECT doc_id, nb, b, COUNT(*) AS c FROM octets GROUP BY doc_id, nb, b
),
agg AS (
  SELECT doc_id, nb, COUNT(*) AS n_distinct_bytes,
         SUM(CAST(c AS DECIMAL(18,0)) * CAST(round(ln(c), 9) AS DECIMAL(19,9)))
           AS wsum
  FROM counts GROUP BY doc_id, nb
)
SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes, n_distinct_bytes,
       round((round(ln(CAST(nb AS DOUBLE)), 9)
              - CAST(CAST(wsum AS VARCHAR) AS DOUBLE) / CAST(nb AS DOUBLE))
             / 0.6931471805599453e0, 6) AS entropy_bits
FROM agg
"""


# --- semantic column-type inference -----------------------------------------


def column_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic type inference over STRING-TYPED columns — the landing-
    zone profiling step (everything arrives as VARCHAR from CSV/logs;
    the loader must discover which columns are really integers, dates,
    decimals, and which carry missing-value tokens) that extends the
    reference's dtype profiling (data_analysis.py) to untyped input.
    Five deterministic string projections of orders exercise the
    verdict lattice: a pure integer column, an ISO date column, a
    decimal-string column, a free-text column, and a 10%-'N/A' integer
    column (missingness must not break the integer verdict).

    Census = one regex match per class per value (full-anchored on both
    engines), exact counts, CASE lattice on PRESENT rows (missing =
    '' or 'N/A'): all-int -> integer; int+float -> numeric; all-date ->
    date; else text. Map-only until a 5-group aggregation."""
    o = read_parquet_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # pre-project the cents alias so the stack() expression can see it
    cols = o.select(cents.alias("c"), "o_orderkey", "o_orderdate",
                    "o_orderpriority").select(
        F.expr(
            "stack(5, "
            "'order_key', CAST(o_orderkey AS STRING), "
            "'order_date', date_format(o_orderdate, 'yyyy-MM-dd'), "
            "'total_price', concat(CAST(c DIV 100 AS STRING), '.', "
            "                      lpad(CAST(c % 100 AS STRING), 2, '0')), "
            "'priority', o_orderpriority, "
            "'key_with_na', CASE WHEN o_orderkey % 10 = 0 THEN 'N/A' "
            "                    ELSE CAST(o_orderkey AS STRING) END"
            ") AS (column_name, val)"
        )
    )
    is_missing = (F.col("val") == "") | (F.col("val") == "N/A")
    is_int = F.col("val").rlike("^-?[0-9]+$")
    is_float = F.col("val").rlike("^-?[0-9]+\\.[0-9]+$")
    is_date = F.col("val").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$")
    agg = cols.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(is_missing.cast("long")).alias("n_missing"),
        F.sum((is_int & ~is_missing).cast("long")).alias("n_int"),
        F.sum((is_float & ~is_missing).cast("long")).alias("n_float"),
        F.sum((is_date & ~is_missing).cast("long")).alias("n_date"),
    )
    present = F.col("n_rows") - F.col("n_missing")
    inferred = (
        F.when(F.col("n_int") == present, F.lit("integer"))
        .when(F.col("n_int") + F.col("n_float") == present, F.lit("numeric"))
        .when(F.col("n_date") == present, F.lit("date"))
        .otherwise(F.lit("text"))
    )
    return agg.select(
        "column_name",
        "n_rows",
        "n_missing",
        "n_int",
        "n_float",
        "n_date",
        (
            F.col("n_missing").cast("double") / F.col("n_rows").cast("double")
        ).alias("missing_frac"),
        inferred.alias("inferred_type"),
    ).orderBy("column_name")


_COLUMN_TYPE_SQL = """
WITH cols AS (
  SELECT 'order_key' AS column_name, CAST(o_orderkey AS VARCHAR) AS val
  FROM orders
  UNION ALL
  SELECT 'order_date', strftime(o_orderdate, '%Y-%m-%d') FROM orders
  UNION ALL
  SELECT 'total_price',
         CAST(CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS VARCHAR)
         || '.' ||
         lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 100
                   AS VARCHAR), 2, '0')
  FROM orders
  UNION ALL
  SELECT 'priority', o_orderpriority FROM orders
  UNION ALL
  SELECT 'key_with_na',
         CASE WHEN o_orderkey % 10 = 0 THEN 'N/A'
              ELSE CAST(o_orderkey AS VARCHAR) END
  FROM orders
),
agg AS (
  SELECT column_name,
         COUNT(*) AS n_rows,
         SUM(CASE WHEN val = '' OR val = 'N/A' THEN 1 ELSE 0 END) AS n_missing,
         SUM(CASE WHEN val <> '' AND val <> 'N/A'
                   AND regexp_full_match(val, '-?[0-9]+')
              THEN 1 ELSE 0 END) AS n_int,
         SUM(CASE WHEN val <> '' AND val <> 'N/A'
                   AND regexp_full_match(val, '-?[0-9]+\\.[0-9]+')
              THEN 1 ELSE 0 END) AS n_float,
         SUM(CASE WHEN val <> '' AND val <> 'N/A'
                   AND regexp_full_match(val, '[0-9]{4}-[0-9]{2}-[0-9]{2}')
              THEN 1 ELSE 0 END) AS n_date
  FROM cols GROUP BY column_name
)
SELECT column_name, n_rows, CAST(n_missing AS BIGINT) AS n_missing,
       CAST(n_int AS BIGINT) AS n_int, CAST(n_float AS BIGINT) AS n_float,
       CAST(n_date AS BIGINT) AS n_date,
       CAST(n_missing AS DOUBLE) / CAST(n_rows AS DOUBLE) AS missing_frac,
       CASE WHEN n_int = n_rows - n_missing THEN 'integer'
            WHEN n_int + n_float = n_rows - n_missing THEN 'numeric'
            WHEN n_date = n_rows - n_missing THEN 'date'
            ELSE 'text' END AS inferred_type
FROM agg
"""


# --- PCA top component by power iteration -----------------------------------

_PCA_ROUNDS = 8


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the 4 lineitem measures by fixed-
    round POWER ITERATION over the correlation matrix — in-dataflow
    linear algebra in the IRLS/ALS family: the feature-screening
    summary ("one axis explains X of the variance, loaded on these
    columns") computed without collecting anything to the driver.

    Two stages: (1) corr_matrix_lineitem's single moment pass builds
    the full symmetric 4x4 matrix (off-diagonals rounded 6 — the cell
    convention — so both engines iterate the IDENTICAL matrix);
    (2) 8 unrolled rounds of v <- M v / ||M v||2 from v0 = (0.5,..)
    (exactly representable), each matvec a 16-row join + decimal-
    snapped per-row sum, each normalizer a broadcast 1-row aggregate.
    The returned eigenvalue is ||M v|| of a final matvec (the Rayleigh
    estimate for a unit v). Convergence: error decays as (l2/l1)^k —
    8 rounds resolve the quantity-extendedprice-dominated top axis well
    below the 6-decimal output rounding; rounds are FIXED so the oracle
    unrolls exactly.

    Scale shape: all fact-table work is the one mergeable moment pass;
    the iteration runs on a 16-row matrix regardless of SF."""
    from data_integration_case_study_spark.functions.numeric import dsum
    from data_integration_case_study_spark.operators import cache
    from data_integration_case_study_spark.plans.mining_queries import _CORR_COLS
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    li = spread_to_parallelism(read_parquet_table(spark, sf_dir, "lineitem"))
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(dsum(F.col(c)).alias(f"s_{c}"))
        aggs.append(dsum(F.col(c) * F.col(c)).alias(f"q_{c}"))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            aggs.append(dsum(F.col(a) * F.col(b)).alias(f"x_{a}_{b}"))
    m = li.agg(*aggs)

    def _corr(a: str, b: str):
        n = F.col("n")
        sa, sb = F.col(f"s_{a}"), F.col(f"s_{b}")
        qa, qb = F.col(f"q_{a}"), F.col(f"q_{b}")
        xab = (
            F.col(f"x_{a}_{b}")
            if f"x_{a}_{b}" in [f"x_{p}_{q}" for i2, p in enumerate(_CORR_COLS)
                                for q in _CORR_COLS[i2 + 1:]]
            else F.col(f"x_{b}_{a}")
        )
        return F.round(
            (n * xab - sa * sb)
            / F.sqrt((n * qa - sa * sa) * (n * qb - sb * sb)),
            6,
        )

    cells = []
    for a in _CORR_COLS:
        for b in _CORR_COLS:
            val = F.lit(1.0) if a == b else _corr(a, b)
            cells.append(
                F.struct(
                    F.lit(a).alias("i"), F.lit(b).alias("j"), val.alias("val")
                )
            )
    mat = (
        m.select(F.explode(F.array(*cells)).alias("c"))
        .select("c.i", "c.j", "c.val")
    )
    mat = cache.track(mat)
    v = mat.select("j").distinct().withColumn("v", F.lit(0.5))
    for _ in range(_PCA_ROUNDS):
        w = mat.join(v, "j").groupBy("i").agg(
            dsum(F.col("val") * F.col("v"), scale=12).alias("w")
        )
        norm = w.agg(
            F.sqrt(dsum(F.col("w") * F.col("w"), scale=12)).alias("t")
        )
        v = cache.truncate(
            w.crossJoin(F.broadcast(norm)).select(
                F.col("i").alias("j"), (F.col("w") / F.col("t")).alias("v")
            )
        )
    wf = mat.join(v, "j").groupBy("i").agg(
        dsum(F.col("val") * F.col("v"), scale=12).alias("w")
    )
    lam = wf.agg(F.sqrt(dsum(F.col("w") * F.col("w"), scale=12)).alias("ev"))
    return (
        v.crossJoin(F.broadcast(lam))
        .select(
            F.col("j").alias("col_name"),
            F.round("v", 6).alias("loading"),
            F.round("ev", 6).alias("eigenvalue"),
        )
        .orderBy("col_name")
    )


def _pca_sql() -> str:
    from data_integration_case_study_spark.plans.mining_queries import _CORR_COLS

    ordered = [
        (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]
    ]

    def cell(a: str, b: str) -> str:
        if a == b:
            return f"SELECT '{a}' AS i, '{b}' AS j, 1.0e0 AS val FROM m"
        p, q = (a, b) if (a, b) in ordered else (b, a)
        return (
            f"SELECT '{a}', '{b}', "
            f"round((n * x_{p}_{q} - s_{a} * s_{b}) "
            f"/ sqrt((n * q_{a} - s_{a} * s_{a}) * (n * q_{b} - s_{b} * s_{b})), 6)"
            f" FROM m"
        )

    cells = " UNION ALL ".join(cell(a, b) for a in _CORR_COLS for b in _CORR_COLS)
    rounds = []
    prev = "v0"
    for r in range(1, _PCA_ROUNDS + 1):
        # every round CTE MATERIALIZED: v{r} references w{r} twice, so
        # un-materialized inlining doubles the expression tree per round
        # (2^rounds blowup — the kcore_copurchase lesson)
        rounds.append(
            f"""w{r} AS MATERIALIZED (
  SELECT m2.i, {dsum_sql('m2.val * p.v', 12)} AS w
  FROM mat m2 JOIN {prev} p ON p.j = m2.j GROUP BY m2.i
),
v{r} AS MATERIALIZED (
  SELECT w.i AS j, w.w / t.t AS v
  FROM w{r} w CROSS JOIN
       (SELECT sqrt({dsum_sql('w * w', 12)}) AS t FROM w{r}) t
)"""
        )
        prev = f"v{r}"
    chain = ",\n".join(rounds)
    moments = ", ".join(
        f"{dsum_sql(c)} AS s_{c}, {dsum_sql(f'{c} * {c}')} AS q_{c}"
        for c in _CORR_COLS
    )
    crosses = ", ".join(
        f"{dsum_sql(f'{a} * {b}')} AS x_{a}_{b}" for a, b in ordered
    )
    # m MATERIALIZED: mat's 16 cells each reference m — without it DuckDB
    # re-runs the 15-accumulator lineitem scan per cell
    return f"""
WITH m AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, {moments}, {crosses}
  FROM lineitem
),
mat AS MATERIALIZED ({cells}),
v0 AS (SELECT DISTINCT j, 0.5e0 AS v FROM mat),
{chain},
wf AS (
  SELECT m2.i, {dsum_sql('m2.val * p.v', 12)} AS w
  FROM mat m2 JOIN {prev} p ON p.j = m2.j GROUP BY m2.i
),
lam AS (SELECT sqrt({dsum_sql('w * w', 12)}) AS ev FROM wf)
SELECT p.j AS col_name, round(p.v, 6) AS loading, round(lam.ev, 6) AS eigenvalue
FROM {prev} p CROSS JOIN lam
"""


# --- Markov (removal-effect) attribution ------------------------------------

_MARKOV_ROUNDS = 12


def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain attribution with removal effects — the
    data-driven third member of the attribution family
    (first/last-touch slice journeys positionally, shapley_attribution
    weighs coalitions, this one models the JOURNEY DYNAMICS): build the
    first-order transition matrix over user journeys truncated at first
    purchase ('start' -> events -> 'conv' on purchase / 'drop' if the
    journey ends unconverted), estimate P(conversion | start) by a
    fixed-round absorbing-chain walk, and credit each channel by its
    REMOVAL EFFECT — how much conversion probability disappears when
    every transition INTO that channel is redirected to 'drop'
    (equivalently: the channel's absorption value is pinned to 0).

    One (removal-scenario x state) grid walks all scenarios in the same
    12 unrolled rounds: p <- T p with p(conv)=1, p(drop)=0, p(removed
    channel)=0 re-pinned each round. 12 rounds bound the walk depth,
    not the journey length — contributions beyond 12 hops are below
    the 6-decimal output rounding (journeys here average ~7 events).

    Determinism: transition probabilities are exact-count divisions;
    each round's mass sums are decimal-snapped (scale 12); the oracle
    unrolls every round. Shape: one user-window pass over events builds
    transitions; the walk runs on a <= 35-row grid at any SF.

    The walk is FOLDED into one codegen'd expression chain (r12, guide
    §1.2/§5 — the r11/r12 verdict's "bounded matrix" item): the state
    domain is O(1)-bounded (event types + start/conv/drop), so the
    per-scenario mass vector rides ONE array<double> column and all 12
    rounds are nested transform/aggregate expressions over a broadcast
    transition MAP — zero shuffles, zero lineage truncations, and zero
    per-round QueryExecutions inside the walk, where the round-per-round
    dataflow form spent ~7 s of pure driver/AQE overhead on a 220-row
    grid at sf0.1 (trunc-frequency A/B: every-3rd 7.9-8.6 s was already
    its optimum; every-6th 10.3+, every-12th 13.9+). Equivalence is
    exact, not approximate: matrix entries are the same doubles, each
    per-round sum accumulates CAST(term AS DECIMAL(26,12)) into a
    DECIMAL(26,12) accumulator — identical snap-to-scale-12 per term and
    exact addition (precision 27 intermediate, never reduced), so
    byte-identical to dsum(scale=12)'s decimal SUM (property-tested in
    tests + oracle-verified at all SFs); absent transitions contribute
    exactly decimal 0, matching the old left-join coalesce."""
    from data_integration_case_study_spark.operators import cache
    e = read_parquet_table(spark, sf_dir, "events")
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ufull = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(uw))
        .withColumn(
            "conv_rn",
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("rn"))
            ).over(ufull),
        )
        .withColumn("max_rn", F.max("rn").over(ufull))
        .filter(
            F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn"))
        )
        .withColumn(
            "state",
            F.when(F.col("event_type") == "purchase", F.lit("conv")).otherwise(
                F.col("event_type")
            ),
        )
    )
    step = seq.select(
        F.coalesce(
            F.lag("state").over(Window.partitionBy("user_id").orderBy("rn")),
            F.lit("start"),
        ).alias("s"),
        F.col("state").alias("t"),
    )
    tail = seq.filter(
        F.col("conv_rn").isNull() & (F.col("rn") == F.col("max_rn"))
    ).select(F.col("state").alias("s"), F.lit("drop").alias("t"))
    counts = step.unionByName(tail).groupBy("s", "t").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("s").agg(F.sum("c").alias("ct"))
    trans = cache.track(
        counts.join(totals, "s").select(
            "s",
            "t",
            (F.col("c").cast("double") / F.col("ct").cast("double")).alias(
                "p"
            ),
        )
    )
    states = (
        trans.select(F.col("s").alias("st"))
        .unionByName(trans.select(F.col("t").alias("st")))
        .distinct()
    )
    channels = states.filter(~F.col("st").isin("start", "conv", "drop"))
    removals = channels.select(F.col("st").alias("removed")).unionByName(
        spark.range(1).select(F.lit("__none").alias("removed"))
    )
    # index the bounded state domain (the single-task window sorts <= 35
    # rows at any SF — same constant-domain argument as blocked_rank's
    # bucket map)
    sidx = states.select(
        "st",
        (F.row_number().over(Window.orderBy("st")) - 1).alias("si"),
    )
    # 1-row broadcast metadata: n states, special-state indices, and the
    # dense transition map keyed si_s*1024 + si_t
    smeta = sidx.agg(
        (F.coalesce(F.max("si"), F.lit(-1)) + 1).alias("__n"),
        F.coalesce(
            F.max(F.when(F.col("st") == "conv", F.col("si"))), F.lit(-1)
        ).alias("__ci"),
        F.coalesce(
            F.max(F.when(F.col("st") == "drop", F.col("si"))), F.lit(-1)
        ).alias("__di"),
        F.coalesce(
            F.max(F.when(F.col("st") == "start", F.col("si"))), F.lit(-1)
        ).alias("__sti"),
    )
    tmap = (
        trans.join(
            sidx.select(F.col("st").alias("s"), F.col("si").alias("__ss")), "s"
        )
        .join(
            sidx.select(F.col("st").alias("t"), F.col("si").alias("__st")), "t"
        )
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("__ss") * F.lit(1024) + F.col("__st"))
                        .cast("int")
                        .alias("k"),
                        F.col("p").alias("v"),
                    )
                )
            ).alias("__tmap")
        )
    )
    sc = (
        removals.join(
            sidx.select(
                F.col("st").alias("removed"), F.col("si").alias("__ri")
            ),
            "removed",
            "left",
        )
        .select("removed", F.coalesce(F.col("__ri"), F.lit(-1)).alias("__ri"))
        .crossJoin(F.broadcast(smeta))
        .crossJoin(F.broadcast(tmap))
    )
    # All 12 rounds fold inside ONE aggregate over sequence(1, rounds):
    # the accumulator (the mass vector) is MATERIALIZED between fold
    # steps, so each round's array is computed exactly once per row.
    # (The naive 12-chained-withColumn form collapses into one nested
    # expression where every element_at(prev_round, ...) re-evaluates
    # the whole previous array — (S²)^rounds blowup; it hung. The fold
    # is the expression-level analogue of lineage truncation.) Pinned
    # states keep their constants; every other state's mass is the
    # decimal-snapped matvec row — CAST(t_p * p_t AS DECIMAL(26,12))
    # terms into an exact DECIMAL(26,12) accumulator (precision-27
    # intermediate, cast back lossless) == dsum(scale=12) byte-for-byte.
    walk_expr = (
        f"aggregate(sequence(1, {_MARKOV_ROUNDS}), "
        "transform(sequence(0, __n - 1), s -> "
        "IF(s = __ci, CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))), "
        "(pv, r) -> transform(sequence(0, __n - 1), s -> "
        "IF(s = __ci, CAST(1.0 AS DOUBLE), "
        "IF(s = __di, CAST(0.0 AS DOUBLE), "
        "IF(s = __ri, CAST(0.0 AS DOUBLE), "
        "CAST(aggregate(sequence(0, __n - 1), CAST(0 AS DECIMAL(26,12)), "
        "(acc, t) -> CAST(acc + CAST("
        "coalesce(element_at(__tmap, CAST(s * 1024 + t AS INT)), "
        "CAST(0.0 AS DOUBLE)) * element_at(pv, t + 1) "
        "AS DECIMAL(26,12)) AS DECIMAL(26,12))) AS DOUBLE))))))"
    )
    sc = sc.withColumn("__p", F.expr(walk_expr))
    at_start = sc.select(
        "removed",
        F.expr(
            "IF(__sti >= 0, element_at(__p, __sti + 1), CAST(0.0 AS DOUBLE))"
        ).alias("p"),
    )
    full = at_start.filter(F.col("removed") == "__none").select(
        F.col("p").alias("p_full")
    )
    per = (
        at_start.filter(F.col("removed") != "__none")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("removed").alias("channel"),
            "p_full",
            F.col("p").alias("p_removed"),
            (F.lit(1.0) - F.col("p") / F.col("p_full")).alias(
                "removal_effect"
            ),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot_eff = (
        F.sum(F.col("removal_effect").cast("decimal(38,12)"))
        .over(wall)
        .cast("double")
    )
    return per.select(
        "channel",
        F.round("p_full", 6).alias("p_full"),
        F.round("p_removed", 6).alias("p_removed"),
        F.round("removal_effect", 6).alias("removal_effect"),
        F.round(F.col("removal_effect") / tot_eff, 6).alias(
            "attribution_share"
        ),
    ).orderBy("channel")


def _markov_attribution_sql() -> str:
    rounds = []
    prev = "p0"
    for r in range(1, _MARKOV_ROUNDS + 1):
        rounds.append(
            f"""p{r} AS (
  SELECT g.st, g.removed,
         CASE WHEN g.st = 'conv' THEN 1.0e0
              WHEN g.st = 'drop' THEN 0.0e0
              WHEN g.st = g.removed THEN 0.0e0
              ELSE coalesce(m.m, 0.0e0) END AS p
  FROM grid g LEFT JOIN (
    SELECT tr.s AS st, pp.removed, {dsum_sql('tr.p * pp.p', 12)} AS m
    FROM trans tr JOIN {prev} pp ON pp.st = tr.t
    GROUP BY tr.s, pp.removed
  ) m ON m.st = g.st AND m.removed = g.removed
)"""
        )
        prev = f"p{r}"
    chain = ",\n".join(rounds)
    return f"""
WITH numbered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
seq AS (
  SELECT user_id, event_type, rn,
         MIN(CASE WHEN event_type = 'purchase' THEN rn END)
           OVER (PARTITION BY user_id) AS conv_rn,
         MAX(rn) OVER (PARTITION BY user_id) AS max_rn
  FROM numbered
),
kept AS (
  SELECT user_id, rn, conv_rn, max_rn,
         CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END
           AS state
  FROM seq
  WHERE conv_rn IS NULL OR rn <= conv_rn
),
step AS (
  SELECT coalesce(lag(state) OVER (PARTITION BY user_id ORDER BY rn), 'start')
           AS s,
         state AS t
  FROM kept
  UNION ALL
  SELECT state, 'drop' FROM kept WHERE conv_rn IS NULL AND rn = max_rn
),
counts AS (SELECT s, t, COUNT(*) AS c FROM step GROUP BY s, t),
trans AS MATERIALIZED (
  SELECT s, t, CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY s) AS DOUBLE)
           AS p
  FROM counts
),
states AS (
  SELECT DISTINCT st FROM (
    SELECT s AS st FROM trans UNION ALL SELECT t FROM trans
  )
),
removals AS (
  SELECT st AS removed FROM states WHERE st NOT IN ('start', 'conv', 'drop')
  UNION ALL SELECT '__none'
),
grid AS MATERIALIZED (SELECT s2.st, r2.removed FROM states s2 CROSS JOIN removals r2),
p0 AS (
  SELECT st, removed,
         CASE WHEN st = 'conv' THEN 1.0e0 ELSE 0.0e0 END AS p
  FROM grid
),
{chain},
at_start AS (SELECT removed, p FROM {prev} WHERE st = 'start'),
full_p AS (SELECT p AS p_full FROM at_start WHERE removed = '__none'),
per AS (
  SELECT a.removed AS channel, f.p_full, a.p AS p_removed,
         1.0e0 - a.p / f.p_full AS removal_effect
  FROM at_start a CROSS JOIN full_p f
  WHERE a.removed <> '__none'
)
SELECT channel, round(p_full, 6) AS p_full, round(p_removed, 6) AS p_removed,
       round(removal_effect, 6) AS removal_effect,
       round(removal_effect
             / CAST(CAST(SUM(CAST(removal_effect AS DECIMAL(38,12))) OVER ()
                    AS VARCHAR) AS DOUBLE), 6) AS attribution_share
FROM per
"""


# --- RAKE keyphrase extraction ----------------------------------------------

_RAKE_TOPK = 20
_RAKE_STOPWORDS = ("the", "a", "of", "and", "to")


def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction) over the corpus: split
    each document into candidate phrases at STOPWORD boundaries, score
    every word globally as degree/frequency (degree = summed length of
    the phrases it appears in — words that live in long multi-word
    phrases outrank equally-frequent words that stand alone), score
    each phrase as the sum of its word scores, and return the top-20
    corpus keyphrases — the unsupervised keyphrase miner that
    complements tf_idf (document-local) and top_terms_per_doc with a
    PHRASE-level corpus view. Stopword anchors are lang_id's 5-word
    English list (production grows the list; the operator shape is
    unchanged — same note as functions/text.STOPWORDS).

    Shape: one posexplode of the corpus, phrase ids from ONE per-doc
    running window (sum of stopword flags), word stats from one
    aggregation at vocabulary cardinality, phrase scores from one
    explode of the DISTINCT phrase texts joined against the broadcast-
    size word-score table. Determinism: word scores are exact-count
    divisions; phrase scores accumulate word scores in decimal
    (order-independent); ties rank by phrase text."""
    d = read_parquet_table(spark, sf_dir, "documents")
    from data_integration_case_study_spark.functions.numeric import dsum
    from data_integration_case_study_spark.functions.text import tokenize

    toks = d.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "w")
    )
    stop = F.col("w").isin(*_RAKE_STOPWORDS)
    marked = toks.select(
        "doc_id",
        "pos",
        "w",
        F.sum(stop.cast("int"))
        .over(Window.partitionBy("doc_id").orderBy("pos"))
        .alias("phrase_id"),
        stop.alias("is_stop"),
    ).filter(~F.col("is_stop"))
    plen = marked.withColumn(
        "plen",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "phrase_id")),
    )
    wscores = plen.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    ).select(
        "w",
        (F.col("deg").cast("double") / F.col("freq").cast("double")).alias(
            "wscore"
        ),
    )
    phrases = (
        plen.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase")
        )
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    scored = (
        phrases.select(
            "phrase",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("w"),
        )
        .join(F.broadcast(wscores), "w")
        .groupBy("phrase", "n_occurrences")
        .agg(dsum(F.col("wscore"), scale=9).alias("score"))
    )
    rk = Window.orderBy(F.col("score").desc(), "phrase")
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= _RAKE_TOPK)
        .select(
            "rank",
            "phrase",
            F.size(F.split("phrase", " ")).alias("n_words"),
            "n_occurrences",
            F.round("score", 6).alias("score"),
        )
    )


def _rake_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, i AS pos, t[i] AS w
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t,
               unnest(generate_series(1, len(list_filter(regexp_split_to_array(text, '\\s+'),
                                                          x -> x <> '')))) AS i
        FROM documents)
),
marked AS (
  SELECT doc_id, pos, w,
         SUM(CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id,
         w IN ({stops}) AS is_stop
  FROM toks
),
plen AS MATERIALIZED (
  SELECT doc_id, pos, w, phrase_id,
         COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
  FROM marked WHERE NOT is_stop
),
wscores AS MATERIALIZED (
  SELECT w, CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS wscore
  FROM plen GROUP BY w
),
phrases AS (
  SELECT phrase, COUNT(*) AS n_occurrences FROM (
    SELECT string_agg(w, ' ' ORDER BY pos) AS phrase
    FROM plen GROUP BY doc_id, phrase_id
  ) GROUP BY phrase
),
scored AS (
  SELECT p.phrase, p.n_occurrences, {dsum_sql('ws.wscore', 9)} AS score
  FROM (SELECT phrase, n_occurrences,
               unnest(string_split(phrase, ' ')) AS w
        FROM phrases) p
  JOIN wscores ws ON ws.w = p.w
  GROUP BY p.phrase, p.n_occurrences
),
ranked AS (
  SELECT row_number() OVER (ORDER BY score DESC, phrase) AS rank,
         phrase, n_occurrences, score
  FROM scored
)
SELECT rank, phrase, len(string_split(phrase, ' ')) AS n_words,
       n_occurrences, round(score, 6) AS score
FROM ranked WHERE rank <= {_RAKE_TOPK}
"""


# --- split-conformal prediction backtest ------------------------------------


def conformal_backtest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around the seasonal-naive
    forecaster (seasonal_naive_backtest's point model): calibrate the
    absolute-residual quantile on EVEN epoch days, wrap every ODD-day
    forecast in [f - qhat, f + qhat], and report per-day coverage hits
    — the distribution-free uncertainty wrapper (finite-sample ~90%
    coverage guarantee under exchangeability) that modern eval stacks
    put around ANY point forecaster before shipping intervals.

    Everything is exact integer arithmetic: residuals are cent
    deltas, qhat is the ceil(0.9*(n_cal+1))-th smallest calibration
    residual picked by a rank window (ties broken by day), interval
    bounds are integer sums, the hit flag an integer comparison — both
    engines reproduce every row bit-for-bit with no floats at all.

    Shape: facts collapse to the day grid, one calendar self-join
    (the day-7 forecast), one bounded rank window over calibration
    days, one broadcast 1-row quantile. Day-grid work, SF-independent."""
    o = read_parquet_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("long")
            .alias("cents")
        )
        .select(
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).alias(
                "t"
            ),
            "cents",
        )
    )
    f = daily.select((F.col("t") + 7).alias("t"), F.col("cents").alias("fc"))
    j = daily.join(f, "t").select(
        "t", F.col("cents").alias("actual"), F.col("fc").alias("forecast"),
        F.abs(F.col("cents") - F.col("fc")).alias("r"),
    )
    cal = j.filter(F.col("t") % 2 == 0)
    ncal = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    ranked = cal.withColumn(
        "rk", F.row_number().over(Window.orderBy("r", "t"))
    )
    qhat = (
        ranked.crossJoin(F.broadcast(ncal))
        .filter(
            F.col("rk")
            == F.least(
                F.ceil(F.lit(0.9) * (F.col("n_cal") + 1)).cast("long"),
                F.col("n_cal"),
            )
        )
        .select(F.col("r").alias("qhat"), "n_cal")
    )
    test = j.filter(F.col("t") % 2 == 1)
    return test.crossJoin(F.broadcast(qhat)).select(
        "t",
        "actual",
        "forecast",
        "n_cal",
        "qhat",
        (F.col("forecast") - F.col("qhat")).alias("lo"),
        (F.col("forecast") + F.col("qhat")).alias("hi"),
        (
            (F.col("actual") >= F.col("forecast") - F.col("qhat"))
            & (F.col("actual") <= F.col("forecast") + F.col("qhat"))
        ).alias("hit"),
    )


_CONFORMAL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS t,
         CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
              AS BIGINT) AS cents
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
j AS (
  SELECT a.t, a.cents AS actual, b.cents AS forecast,
         abs(a.cents - b.cents) AS r
  FROM daily a JOIN daily b ON a.t = b.t + 7
),
cal AS (SELECT * FROM j WHERE t % 2 = 0),
ncal AS (SELECT COUNT(*) AS n_cal FROM cal),
ranked AS (
  SELECT r, row_number() OVER (ORDER BY r, t) AS rk FROM cal
),
qhat AS (
  SELECT ranked.r AS qhat, ncal.n_cal
  FROM ranked, ncal
  WHERE ranked.rk = least(CAST(ceil(0.9 * (ncal.n_cal + 1)) AS BIGINT),
                          ncal.n_cal)
)
SELECT t, actual, forecast, n_cal, qhat,
       forecast - qhat AS lo, forecast + qhat AS hi,
       actual >= forecast - qhat AND actual <= forecast + qhat AS hit
FROM j, qhat
WHERE t % 2 = 1
"""


# --- HBOS (histogram-based outlier score) -----------------------------------

_HBOS_BINS = 32
_HBOS_TOPK = 50


def hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS (histogram-based outlier score) over orders: three
    independent feature histograms — a 32-equal-width-bin price
    histogram, day-of-week, and order priority — score each order as
    the sum of negative log densities of its bins, and return the
    top-50 — the linear-time anomaly scorer (Goldstein & Dengel's
    HBOS) that anomaly pipelines run where an isolation forest would
    be overkill: assumes feature independence, trades interaction
    detection for a single-pass mergeable-histogram plan.

    Determinism: price bins are integer arithmetic over the broadcast
    (min, max) cents range; day-of-week is epoch-day modulo (never
    engine dow functions, which disagree on week start); densities are
    exact-count ratios; each -ln is rounded to 9 (libm-tolerance
    convention) and the 3-term sum is a fixed chain; ranking ties
    break by order key.

    Shape: one scan computes bins map-only (after a broadcast 1-row
    range aggregate), three bin-domain count aggregations join back by
    bin id (each broadcast-size), one global top-k window."""
    o = read_parquet_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    epoch_day = F.datediff(
        F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
    )
    base = o.select(
        "o_orderkey",
        cents.alias("c"),
        ((epoch_day + 4) % 7).alias("dow"),
        F.col("o_orderpriority").alias("prio"),
    )
    rng = base.agg(
        F.min("c").alias("mn"), F.max("c").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = base.crossJoin(F.broadcast(rng)).select(
        "o_orderkey",
        "dow",
        "prio",
        "n",
        # integer DIV, not `/`: float division of wide cents ranges is
        # inexact near bin boundaries and would diverge from the
        # oracle's `//`
        F.least(
            F.lit(_HBOS_BINS - 1).cast("long"),
            F.expr(f"(c - mn) * {_HBOS_BINS} DIV (mx - mn + 1)"),
        ).alias("pbin"),
    )
    pb = binned.groupBy("pbin").agg(F.count(F.lit(1)).alias("pc"))
    db = binned.groupBy("dow").agg(F.count(F.lit(1)).alias("dc"))
    rb = binned.groupBy("prio").agg(F.count(F.lit(1)).alias("rc"))
    scored = (
        binned.join(F.broadcast(pb), "pbin")
        .join(F.broadcast(db), "dow")
        .join(F.broadcast(rb), "prio")
        .select(
            "o_orderkey",
            "pbin",
            "dow",
            "prio",
            (
                F.round(F.log(F.col("n").cast("double") / F.col("pc")), 9)
                + F.round(F.log(F.col("n").cast("double") / F.col("dc")), 9)
                + F.round(F.log(F.col("n").cast("double") / F.col("rc")), 9)
            ).alias("score"),
        )
    )
    rk = Window.orderBy(F.col("score").desc(), "o_orderkey")
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= _HBOS_TOPK)
        .select(
            "rank",
            "o_orderkey",
            "pbin",
            "dow",
            "prio",
            F.round("score", 6).alias("score"),
        )
    )


_HBOS_SQL = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01' + 4) % 7 AS dow,
         o_orderpriority AS prio
  FROM orders
),
rng AS (SELECT MIN(c) AS mn, MAX(c) AS mx, COUNT(*) AS n FROM base),
binned AS MATERIALIZED (
  SELECT o_orderkey, dow, prio, n,
         CAST(least({_HBOS_BINS - 1},
                    (c - mn) * {_HBOS_BINS} // (mx - mn + 1)) AS BIGINT)
           AS pbin
  FROM base, rng
),
pb AS (SELECT pbin, COUNT(*) AS pc FROM binned GROUP BY pbin),
db AS (SELECT dow, COUNT(*) AS dc FROM binned GROUP BY dow),
rb AS (SELECT prio, COUNT(*) AS rc FROM binned GROUP BY prio),
scored AS (
  SELECT b.o_orderkey, b.pbin, b.dow, b.prio,
         round(ln(CAST(b.n AS DOUBLE) / pb.pc), 9)
         + round(ln(CAST(b.n AS DOUBLE) / db.dc), 9)
         + round(ln(CAST(b.n AS DOUBLE) / rb.rc), 9) AS score
  FROM binned b
  JOIN pb ON pb.pbin = b.pbin
  JOIN db ON db.dow = b.dow
  JOIN rb ON rb.prio = b.prio
),
ranked AS (
  SELECT row_number() OVER (ORDER BY score DESC, o_orderkey) AS rank,
         o_orderkey, pbin, dow, prio, score
  FROM scored
)
SELECT rank, o_orderkey, pbin, dow, prio, round(score, 6) AS score
FROM ranked WHERE rank <= {_HBOS_TOPK}
"""


# --- TextRank keywords ------------------------------------------------------

_TEXTRANK_TOPK = 20


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the word
    co-occurrence graph (distinct word pairs within a +-2 token window,
    stopwords removed, edges in both directions), top-20 words by rank
    — the graph-centrality keyword miner that complements RAKE's
    phrase statistics with Mihalcea-Tarau's recommendation dynamics,
    and the second consumer of operators/graph.pagerank (proof the
    operator generalizes beyond the kNN substrate).

    Shape: one posexplode, one self-join on (doc, pos offset 1 or 2)
    collapsed immediately to DISTINCT word pairs (vocabulary-
    squared bound — tiny — before pagerank's rounds), then the fixed
    3-round walk on the word graph. Same decimal-snapped round sums
    and round-unrolled oracle as pagerank_knn."""
    from data_integration_case_study_spark.functions.text import tokenize
    from data_integration_case_study_spark.operators import cache
    from data_integration_case_study_spark.operators.graph import pagerank

    d = read_parquet_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "w")
    ).filter(~F.col("w").isin(*_RAKE_STOPWORDS))
    t2 = toks.select(
        "doc_id", F.col("pos").alias("pos2"), F.col("w").alias("w2")
    )
    fwd = (
        toks.join(t2, "doc_id")
        .filter(
            (F.col("pos2") - F.col("pos")).isin(1, 2)
            & (F.col("w") != F.col("w2"))
        )
        .select("w", "w2")
    )
    edges = cache.track(
        fwd.unionByName(
            fwd.select(F.col("w2").alias("w"), F.col("w").alias("w2"))
        ).distinct()
    )
    pr = pagerank(edges, src="w", dst="w2", damping=0.85, rounds=3)
    rk = Window.orderBy(F.col("pr").desc(), "id")
    return (
        pr.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= _TEXTRANK_TOPK)
        .select("rank", F.col("id").alias("word"), F.round("pr", 6).alias("pagerank"))
    )


def _textrank_sql() -> str:
    from data_integration_case_study_spark.plans.vector_queries import (
        _pr_round_sql,
    )

    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, i AS pos, t[i] AS w
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t,
               unnest(generate_series(1, len(list_filter(regexp_split_to_array(text, '\\s+'),
                                                          x -> x <> '')))) AS i
        FROM documents)
  WHERE t[i] NOT IN ({stops})
),
fwd AS (
  SELECT a.w AS w, b.w AS w2
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2) AND a.w <> b.w
),
edges AS MATERIALIZED (
  SELECT DISTINCT w AS s, w2 AS d FROM (
    SELECT w, w2 FROM fwd UNION ALL SELECT w2, w FROM fwd
  )
),
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT s AS id FROM edges UNION ALL SELECT d FROM edges
  )
),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT s AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg
        FROM edges GROUP BY s),
pr0 AS (SELECT n.id, 1.0 / t.n AS pr FROM nodes n CROSS JOIN total t),
{_pr_round_sql("pr0", "pr1")},
{_pr_round_sql("pr1", "pr2")},
{_pr_round_sql("pr2", "pr3")},
ranked AS (
  SELECT row_number() OVER (ORDER BY pr DESC, id) AS rank, id, pr FROM pr3
)
SELECT rank, id AS word, round(pr, 6) AS pagerank
FROM ranked WHERE rank <= {_TEXTRANK_TOPK}
"""


# --- behavioral journey similarity ------------------------------------------


def journey_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral near-duplicate journeys: encode each USER-DAY as a
    compact event-initial string (c/s/p/e/v in time order), collapse to
    the DISTINCT journey domain with support counts, and emit every
    journey pair within levenshtein distance 1 — the behavioral-cohort
    miner ("these two daily patterns are one insertion apart — same
    intent, one extra error event") behind funnel variant analysis and
    bot-pattern clustering. The fuzzy_name_pairs idea applied to
    SEQUENCES instead of names.

    Scale shape: the fact table collapses to user-days (one window-free
    aggregation with an ordered string_agg), then to the JOURNEY DOMAIN
    (~thousands, phonetic_blocking_pairs' distinct-domain discipline) —
    the pair stage is a LENGTH-BANDED EQUI-JOIN (|len diff| <= 1 is
    necessary for distance <= 1, so candidates equi-join on the
    +-1-exploded length key; never users^2, and domain-bounded rather
    than fact-bounded; a domain large enough to need more would reuse
    fuzzy_name_pairs' deletion-neighborhood cover). Determinism: the
    per-day event order ties on event_id; pair output is exact string
    algebra."""
    e = read_parquet_table(spark, sf_dir, "events")
    j = (
        e.select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i"))
            .alias("s"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda x: x["i"]),
                "",
            ).alias("journey")
        )
    )
    dom = j.groupBy("journey").agg(F.count(F.lit(1)).alias("n_user_days"))
    a = dom.select(
        F.col("journey").alias("ja"),
        F.col("n_user_days").alias("n_a"),
        F.length("journey").alias("la"),
    )
    b = dom.select(
        F.col("journey").alias("jb"),
        F.col("n_user_days").alias("n_b"),
        F.explode(
            F.array(
                F.length("journey") - 1,
                F.length("journey"),
                F.length("journey") + 1,
            )
        ).alias("la"),
    )
    return (
        a.join(b, "la")
        .filter(
            (F.col("ja") < F.col("jb"))
            & (F.levenshtein("ja", "jb") <= 1)
        )
        .select(
            "ja",
            "jb",
            "n_a",
            "n_b",
            F.levenshtein("ja", "jb").alias("dist"),
        )
    )


_JOURNEY_SQL = """
WITH j AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
dom AS MATERIALIZED (
  SELECT journey, COUNT(*) AS n_user_days FROM j GROUP BY journey
)
SELECT a.journey AS ja, b.journey AS jb,
       a.n_user_days AS n_a, b.n_user_days AS n_b,
       levenshtein(a.journey, b.journey) AS dist
FROM dom a JOIN dom b
  ON a.journey < b.journey
 AND abs(len(a.journey) - len(b.journey)) <= 1
 AND levenshtein(a.journey, b.journey) <= 1
"""


QUERIES = {
    "hits_knn": hits_knn,
    "isotonic_calibration": isotonic_calibration,
    "permutation_fdr_nations": permutation_fdr_nations,
    "ipf_raking": ipf_raking,
    "motif_discovery_daily": motif_discovery_daily,
    "simpsons_paradox_scan": simpsons_paradox_scan,
    "payload_byte_entropy": payload_byte_entropy,
    "column_type_inference": column_type_inference,
    "pca_top_component": pca_top_component,
    "markov_attribution": markov_attribution,
    "rake_keyphrases": rake_keyphrases,
    "conformal_backtest_daily": conformal_backtest_daily,
    "hbos_outliers": hbos_outliers,
    "textrank_keywords": textrank_keywords,
    "journey_similarity_pairs": journey_similarity_pairs,
}

ORACLES = {
    "ipf_raking": _ipf_raking_sql(),
    "motif_discovery_daily": _MOTIF_SQL,
    "simpsons_paradox_scan": _SIMPSONS_SQL,
    "payload_byte_entropy": _PAYLOAD_ENTROPY_SQL,
    "column_type_inference": _COLUMN_TYPE_SQL,
    "pca_top_component": _pca_sql(),
    "markov_attribution": _markov_attribution_sql(),
    "rake_keyphrases": _rake_sql(),
    "conformal_backtest_daily": _CONFORMAL_SQL,
    "hbos_outliers": _HBOS_SQL,
    "textrank_keywords": _textrank_sql(),
    "journey_similarity_pairs": _JOURNEY_SQL,
    "hits_knn": _hits_knn_sql(),
    "isotonic_calibration": _isotonic_calibration_sql(),
    "permutation_fdr_nations": _permutation_fdr_sql(),
}

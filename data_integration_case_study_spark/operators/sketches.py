"""Bounded-state sketch operators: KMV distinct-count, count-min frequency.

A 100 TB profiling pass cannot afford exact DISTINCT / exact per-key
counts for every column it audits — the reference's eager pandas profiling
(``data_analysis.py`` nunique/value_counts) becomes a full shuffle per
column. Sketches replace those with FIXED-size summaries that (a) compute
in one map-side-combinable aggregation pass and (b) MERGE: the sketch of a
union is a cheap function of the two sketches, so per-partition /
per-day summaries roll up without touching raw data again.

Engine-portability discipline: both sketches are built on the repo's
sha256-derived ``hash60`` and the MinHash module's affine constants, so a
DuckDB oracle replays them bit-for-bit — the estimates are deterministic
functions of the data, not of partitioning or a JVM RNG.

- KMV (k minimum values): keep the k smallest distinct hashes per group;
  the k-th minimum estimates distinct count as (k-1) * M / kth_min
  (Bar-Yossef et al. 2002; M = hash space size 2^60). Exact below k.
- Count-min (Cormode & Muthukrishnan 2005): depth x width counter grid;
  each key increments one counter per row (independent affine hash);
  a key's estimate is the MIN of its depth counters — always >= truth,
  off only by bucket collisions (~N/width per row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.text import hash60
from data_integration_case_study_spark.operators.dedup import (
    _MERSENNE,
    _affine_params,
)

# KMV hash space: hash60 is uniform on [0, 2^60). Exactly representable
# as a double (power of two), so the estimate double is IEEE-identical
# in every engine.
_KMV_M = float(1 << 60)

# Affine-hash seeds, one per sketch family (dedup._affine_params). A
# sketch merged or probed under another family's seed would be silently
# wrong, and the DuckDB twins replay these exact values.
CMS_SEED, BLOOM_SEED, AMS_SEED = 7, 11, 1009


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group approximate distinct count via the k-minimum-values
    sketch. Returns (group..., sketch_size, kth_min, est_distinct):
    ``est_distinct`` is EXACT (= sketch_size) while the group holds fewer
    than k distinct values, else (k-1) * 2^60 / kth_min.

    Shape: distinct (group, hash) — one agg — then ONE rank window per
    group bounded to k rows, then a per-group agg over <= k rows. The
    shuffle carries (group, long) pairs only; the window's k-row cut is
    what you'd persist as the mergeable sketch (union two sketches,
    re-rank, cut to k — same code path).

    Estimate determinism: kth_min < 2^60 casts to double with IEEE
    round-to-nearest and one division follows — both exactly specified,
    so Spark and any oracle produce the identical double."""
    return kmv_estimate_from_sketch(
        kmv_sketch_rows(df, group_cols, value_col, k), group_cols, k
    )


def _rank_cut(hashed: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """The sketch CUT shared by build and merge: keep each group's k
    smallest hashes. One definition so build and merge can never
    silently disagree (the merge-equals-rebuild property depends on
    them applying the identical rule)."""
    w = Window.partitionBy(*group_cols).orderBy(F.col("__h").asc())
    return (
        hashed.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def kmv_sketch_rows(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """The PERSISTABLE sketch state: per group, its <= k minimum distinct
    value hashes as (group..., __h) rows. Merging two sketches — or a
    sketch with a new raw batch — is exactly this function over their
    union (dedup, re-rank, cut to k), which is what the streaming
    maintenance loop does per microbatch."""
    # null values are EXCLUDED (count(DISTINCT x) semantics): hash60(null)
    # is null, and Spark windows rank nulls first while most SQL engines
    # rank them last — excluding them keeps the sketch engine-portable
    # and the estimate aligned with DISTINCT
    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, hash60(F.col(value_col).cast("string")).alias("__h"))
        .dropDuplicates([*group_cols, "__h"])
    )
    return _rank_cut(hashed, group_cols, k)


def kmv_merge_sketches(
    a: DataFrame, b: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Merge two sketch-row frames: union -> distinct -> re-rank -> cut.
    The result equals the sketch of the concatenated raw inputs (proven
    in tests), which is the property that lets per-day/per-shard
    summaries roll up without rescanning data."""
    u = a.unionByName(b).dropDuplicates([*group_cols, "__h"])
    return _rank_cut(u, group_cols, k)


def kmv_estimate_from_sketch(
    sketch: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Distinct-count estimates from persisted sketch rows."""
    return sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("sketch_size"),
        F.max("__h").alias("kth_min"),
    ).select(
        *group_cols,
        "sketch_size",
        "kth_min",
        F.when(F.col("sketch_size") < k, F.col("sketch_size").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(_KMV_M) / F.col("kth_min").cast("double")
        )
        .alias("est_distinct"),
    )


def _cms_cols(key: Column, depth: int) -> list[Column]:
    """The ``depth`` counter-column indices of a key: independent affine
    permutations of its 60-bit hash (MinHash's constants), folded to the
    grid width by the caller. a*h stays under 2^62 (both factors < 2^31
    after the mod-p reduction), so plain BIGINT arithmetic replays in
    any engine."""
    h = hash60(key.cast("string")) % F.lit(_MERSENNE)
    return [
        (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE)
        for a, b in _affine_params(depth, CMS_SEED)
    ]


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build the count-min counter grid: (row, col, cnt) with exactly one
    increment per input row per sketch row. depth x width counters
    (<= depth*width output rows) regardless of input size — the whole
    sketch broadcasts. ONE explode (depth rows/input row, depth is 4)
    feeds ONE map-side-combinable count aggregation."""
    cols = _cms_cols(F.col(key_col), depth)
    return (
        df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("row"),
                        (c % F.lit(width)).alias("col"),
                    )
                    for i, c in enumerate(cols)
                ])
            ).alias("rc")
        )
        .select("rc.row", "rc.col")
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Frequency estimate for each key in ``keys``: min over its
    ``depth`` counters. The sketch side is <= depth*width rows and is
    broadcast — estimating any number of keys is a map-side join, never
    a shuffle of the keyed data."""
    cols = _cms_cols(F.col(key_col), depth)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    (c % F.lit(width)).alias("col"),
                )
                for i, c in enumerate(cols)
            ])
        ).alias("rc"),
    ).select(key_col, "rc.row", "rc.col")
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(key_col)
        .agg(F.min("cnt").alias("est_count"))
    )


def histogram_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Per-group approximate quantiles from a FIXED-WIDTH histogram —
    the bounded-state companion to the exact interpolated percentile
    (plans/advanced.quantiles_by_segment): state per group is ``bins``
    counters however many rows flow through, histograms MERGE by adding
    counters (per-shard/per-day rollup without re-reading data), and the
    estimate error is bounded by the bin width. This is the shape
    monitoring systems actually run at 100 TB; the exact percentile is
    the verification tier.

    Returns (group..., q, est): est interpolates linearly inside the
    first bin whose cumulative count crosses q*n. Determinism: bin
    assignment is integer floor arithmetic; the interpolation is a fixed
    chain of IEEE double ops over exact integer counts — identical in
    any engine, no rounding needed. Values outside [lo, hi) clamp into
    the edge bins (documented saturation, same as production histogram
    metrics)."""
    counts = histogram_bin_counts(df, group_cols, value_col, lo, hi, bins)
    return histogram_estimate(counts, group_cols, lo, hi, bins, quantiles)


def histogram_bin_counts(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Mergeable half of :func:`histogram_quantiles`: per-(group, bin)
    exact counts — ADDITIVE under :func:`histogram_merge`, so shards,
    days, or streaming micro-batches roll up without re-reading data."""
    width = (hi - lo) / bins
    x = F.col(value_col).cast("double")
    b = F.greatest(
        F.lit(0),
        F.least(F.lit(bins - 1), F.floor((x - F.lit(lo)) / F.lit(width)).cast("int")),
    )
    return (
        df.select(*group_cols, b.alias("__b"))
        .groupBy(*group_cols, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def histogram_merge(
    a: DataFrame, b: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge two bin-count frames by adding counters (the histogram
    monoid). Both sides must share (lo, hi, bins)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "__b")
        .agg(F.sum("__c").alias("__c"))
    )


def histogram_estimate(
    counts: DataFrame,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Estimation half of :func:`histogram_quantiles`: linear
    interpolation inside the first bin whose cumulative count crosses
    q*n, over a (group, bin)-count frame."""
    width = (hi - lo) / bins
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(*group_cols)
    cum = (
        counts.withColumn("__cum", F.sum("__c").over(w))
        .withColumn("__n", F.sum("__c").over(wn))
    )
    qf = cum.select(
        *group_cols, "__b", "__c", "__cum", "__n",
        F.explode(F.array(*[F.lit(q) for q in quantiles])).alias("q"),
    ).withColumn("__target", F.col("q") * F.col("__n").cast("double"))
    crossing = qf.filter(F.col("__cum").cast("double") >= F.col("__target"))
    pick = Window.partitionBy(*group_cols, "q").orderBy("__b")
    return (
        crossing.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            *group_cols,
            "q",
            (
                F.lit(lo)
                + (
                    F.col("__b").cast("double")
                    + (
                        F.col("__target")
                        - (F.col("__cum") - F.col("__c")).cast("double")
                    )
                    / F.col("__c").cast("double")
                )
                * F.lit(width)
            ).alias("est"),
        )
    )


def _bit_mask(p: Column) -> Column:
    """``1 << (p % 32)`` as exact integer arithmetic with a COLUMN shift
    amount (shiftleft takes only literal shift counts): a 32-entry
    power-of-two lookup, engine-portable and codegen'd."""
    return F.element_at(
        F.array(*[F.lit(1 << i).cast("long") for i in range(32)]),
        (p % F.lit(32)).cast("int") + F.lit(1),
    )


def _bloom_positions(key: Column, k: int, m_bits: int) -> list[Column]:
    """The ``k`` bit positions of a key: independent affine permutations
    of its 60-bit hash (same constants as count-min), folded to the
    filter width. Deterministic and engine-portable — a SQL oracle
    replays the identical positions."""
    h = hash60(key.cast("string")) % F.lit(_MERSENNE)
    return [
        ((F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE)) % F.lit(m_bits)
        for a, b in _affine_params(k, BLOOM_SEED)
    ]


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Build a Bloom filter over a key column as (word_idx, word) rows —
    the distributed runtime-filter build side. Each key sets ``k`` bits;
    bits pack into 32-bit words via ONE map-side-combinable ``bit_or``
    aggregation, so the whole filter is <= m_bits/32 rows no matter how
    many rows flow through, and two filters over disjoint inputs MERGE
    by OR-ing words.

    This is the manual form of the runtime join pruning a 100 TB
    star-join wants: build the filter over the (small) filtered build
    side, broadcast the <=few-KB word table, and pre-filter the probe
    side BEFORE its shuffle — rows that cannot join never cross the
    wire. 32-bit words keep ``1 << bit`` inside positive BIGINT range in
    every engine (no sign-bit portability trap at bit 63)."""
    pos = _bloom_positions(F.col(key_col), k, m_bits)
    return (
        df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.floor(p / F.lit(32)).cast("long").alias("word_idx"),
                        _bit_mask(p).alias("bit"),
                    )
                    for p in pos
                ])
            ).alias("wb")
        )
        .select("wb.word_idx", "wb.bit")
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_probe(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Test each row of ``keys`` against the filter: adds a boolean
    ``bloom_pass`` (true iff all k bits are set — no false negatives by
    construction). The word table broadcasts; probing is a map-side
    join + one all-bits-set agg per key, never a shuffle of the probe
    data."""
    pos = _bloom_positions(F.col(key_col), k, m_bits)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.floor(p / F.lit(32)).cast("long").alias("word_idx"),
                    _bit_mask(p).alias("bit"),
                )
                for p in pos
            ])
        ).alias("wb"),
    ).select(key_col, "wb.word_idx", "wb.bit")
    return (
        probes.join(F.broadcast(bloom), ["word_idx"], "left")
        .withColumn(
            "__hit",
            (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("bit")) != 0),
        )
        .groupBy(key_col)
        .agg(F.min("__hit").alias("bloom_pass"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Counter-wise sum of two count-min grids of the same depth/width
    (every grid hashes under ``CMS_SEED``): the merge property that lets
    per-shard / per-day / per-microbatch sketches roll up without
    re-reading data. Unlike KMV's merge this one is NOT idempotent
    (counters add), so streaming maintenance must gate on the batch id
    (streaming/state.streaming_cms_sketch)."""
    return (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


# --- HyperLogLog -----------------------------------------------------------


def hll_constants(p: int = 8) -> dict:
    """The engine-portable HLL constants for precision ``p`` (m = 2^p
    registers over the 60-bit hash space): the rest-bits mask, the
    maximum rank (rho of an all-zero rest), the bias-corrected
    numerator alpha_m * m^2 * 2^maxrho as ONE Python double literal
    (so both engines multiply/divide the identical IEEE values), and
    the linear-counting threshold 2.5m. Shared by the Spark operator
    and the DuckDB oracle twin."""
    m = 1 << p
    rest_bits = 60 - p
    maxrho = rest_bits + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)  # Flajolet et al. 2007, m >= 128
    return {
        "m": m,
        "rest_bits": rest_bits,
        "rest_mask": (1 << rest_bits) - 1,
        "maxrho": maxrho,
        "two_maxrho": 1 << maxrho,
        "numerator": alpha * float(m) * float(m) * float(1 << maxrho),
        "lc_threshold": 2.5 * m,
    }


def hll_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate (Flajolet-Durand-
    Gandouet-Meunier 2007) — the third classic sketch next to KMV and
    count-min: FIXED 2^p-register state per group, one map-side-
    combinable MAX aggregation, and registers MERGE by element-wise max
    (union of streams = max of registers), which KMV needs a re-rank
    for and count-min pays collisions for.

    Construction (engine-portable, like every sketch here): bucket =
    top p bits of hash60(value); rho = leading-zero count of the
    remaining 60-p bits + 1 (computed from length(bin(rest)) — integer
    string length, no float log2 boundary risk); register = MAX(rho)
    per bucket. The harmonic-mean denominator sum(2^-register) is kept
    EXACT by scaling every term to the integer 2^(maxrho - register)
    (absent buckets contribute 2^maxrho arithmetically — no dense
    register grid materializes), so the only IEEE ops are one int->
    double conversion (exact hardware rounding), one division, and the
    small-range linear-counting branch m*ln(m/V) (rounded to 6, the
    repo's libm tolerance).

    Returns (group..., n_zero_registers, z_scaled, est_distinct).
    Estimate is raw alpha*m^2/Z above the 2.5m threshold, linear
    counting below it while any register is empty — both branches
    deterministic functions of the data, never of partitioning."""
    return hll_estimate_registers(
        hll_register_rows(df, group_cols, value_col, p), group_cols, p
    )


def hll_register_rows(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """The sparse register table (group..., __bucket, __register) —
    the <= 2^p-row-per-group state you persist per shard/day and merge
    for free with :func:`hll_merge_registers`."""
    c = hll_constants(p)
    h = hash60(F.col(value_col))
    bucket = F.shiftright(h, c["rest_bits"])
    rest = h.bitwiseAND(F.lit(c["rest_mask"]))
    rho = F.when(rest == 0, F.lit(c["maxrho"])).otherwise(
        F.lit(c["rest_bits"]) - F.length(F.bin(rest)) + F.lit(1)
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, bucket.alias("__bucket"), rho.alias("__rho"))
        .groupBy(*group_cols, "__bucket")
        .agg(F.max("__rho").alias("__register"))
    )


def hll_merge_registers(
    a: DataFrame, b: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Element-wise max of two register tables: sketch(A ∪ B) ==
    merge(sketch(A), sketch(B)) exactly. Unlike count-min (whose merge
    ADDS and therefore needs a replay guard in streaming), max is
    IDEMPOTENT — re-merging a replayed microbatch is a no-op, the same
    safety class as KMV's re-rank."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "__bucket")
        .agg(F.max("__register").alias("__register"))
    )


def hll_estimate_registers(
    regs: DataFrame, group_cols: list[str], p: int = 8
) -> DataFrame:
    """Unfold a register table into (group..., n_zero_registers,
    z_scaled, est_distinct) — the estimate half of :func:`hll_sketch`."""
    c = hll_constants(p)
    term = F.expr("shiftleft(cast(1 as bigint), cast(__maxrho - __register as int))")
    agg = (
        regs.withColumn("__maxrho", F.lit(c["maxrho"]))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("__n_hit"),
            F.sum(term.cast("decimal(38,0)")).alias("__z_hit"),
        )
    )
    n_zero = (F.lit(c["m"]) - F.col("__n_hit")).cast("int")
    z_scaled = (
        F.col("__z_hit")
        + n_zero.cast("decimal(6,0)")
        * F.lit(c["two_maxrho"]).cast("decimal(19,0)")
    ).cast("long")
    raw = F.lit(c["numerator"]) / F.col("z_scaled").cast("double")
    lc = F.round(
        F.lit(float(c["m"]))
        * F.log(F.lit(float(c["m"])) / F.col("n_zero_registers").cast("double")),
        6,
    )
    return (
        agg.select(
            *group_cols,
            n_zero.alias("n_zero_registers"),
            z_scaled.alias("z_scaled"),
        )
        .withColumn(
            "est_distinct",
            F.when(
                (raw <= F.lit(c["lc_threshold"]))
                & (F.col("n_zero_registers") > 0),
                lc,
            ).otherwise(raw),
        )
    )


def hll_sketch_sql(source_sql: str, group_cols: list[str], p: int = 8) -> str:
    """DuckDB twin of :func:`hll_sketch` over ``source_sql`` (must emit
    the group columns plus a VARCHAR ``val``)."""
    from data_integration_case_study_spark.functions.text import hash60_sql

    c = hll_constants(p)
    g = ", ".join(group_cols)
    return f"""
WITH __src AS ({source_sql}),
__h AS (
  SELECT {g}, {hash60_sql("val")} AS h FROM __src WHERE val IS NOT NULL
),
__r AS (
  SELECT {g}, h >> {c["rest_bits"]} AS bucket,
         MAX(CASE WHEN (h & {c["rest_mask"]}) = 0 THEN {c["maxrho"]}
                  ELSE {c["rest_bits"]} - length(bin(h & {c["rest_mask"]})) + 1
             END) AS register
  FROM __h GROUP BY ALL
),
__a AS (
  SELECT {g}, COUNT(*) AS n_hit,
         SUM(CAST((1::BIGINT << ({c["maxrho"]} - register)) AS DECIMAL(38,0)))
           AS z_hit
  FROM __r GROUP BY ALL
),
__e AS (
  SELECT {g},
         CAST({c["m"]} - n_hit AS INT) AS n_zero_registers,
         CAST(z_hit + CAST({c["m"]} - n_hit AS DECIMAL(6,0))
                      * CAST({c["two_maxrho"]} AS DECIMAL(19,0)) AS BIGINT)
           AS z_scaled
  FROM __a
)
SELECT {g}, n_zero_registers, z_scaled,
       CASE WHEN {c["numerator"]!r} / CAST(z_scaled AS DOUBLE)
                 <= {c["lc_threshold"]!r}
             AND n_zero_registers > 0
            THEN round({float(c["m"])!r}
                       * ln({float(c["m"])!r}
                            / CAST(n_zero_registers AS DOUBLE)), 6)
            ELSE {c["numerator"]!r} / CAST(z_scaled AS DOUBLE)
       END AS est_distinct
FROM __e
"""


# --- AMS (second frequency moment) -----------------------------------------


def ams_counters(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    d: int = 9,
) -> DataFrame:
    """Per-group AMS F2 sketch state: ``d`` signed counters
    z_j = sum(sign_j(value)) plus the row count, as ONE wide row per
    group — constant state, one map-side-combinable aggregation
    (Alon-Matias-Szegedy 1996). F2 = sum over keys of count^2 is the
    SELF-JOIN SIZE of the column: the join-blow-up / skew statistic a
    planner wants per shard without a per-key shuffle.

    Signs are the parity of the repo's affine permutations of hash60,
    so every engine — and every re-partitioning — derives identical
    counters. Merge is column-wise ADDITION (:func:`ams_merge`):
    sign sums over a union are the sums of the parts."""
    h = hash60(F.col(value_col).cast("string")) % F.lit(_MERSENNE)
    params = _affine_params(d, AMS_SEED)
    signs = [
        (
            F.lit(1)
            - F.lit(2) * ((F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE) % F.lit(2))
        )
        for a, b in params
    ]
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(s).alias(f"z{j}") for j, s in enumerate(signs)],
        )
    )


def ams_merge(a: DataFrame, b: DataFrame, group_cols: list[str], d: int = 9) -> DataFrame:
    """Column-wise sum of two AMS counter tables of the same ``d`` (every
    table signs under ``AMS_SEED``): the sketch of the concatenated
    inputs (proven in tests). Addition is NOT idempotent, so streaming
    maintenance gates on the batch id exactly like count-min
    (streaming/state.streaming_ams_sketch)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            *[F.sum(f"z{j}").alias(f"z{j}") for j in range(d)],
        )
    )


def ams_estimate(sketch: DataFrame, d: int = 9) -> DataFrame:
    """F2 estimate from counter state: median of the d per-counter
    estimates z_j^2 (each unbiased; the median bounds the variance).
    Pure integer arithmetic — engine-identical."""
    ests = F.array_sort(
        F.array(*[(F.col(f"z{j}") * F.col(f"z{j}")) for j in range(d)])
    )
    return sketch.withColumn("est_f2", F.element_at(ests, (d + 1) // 2))

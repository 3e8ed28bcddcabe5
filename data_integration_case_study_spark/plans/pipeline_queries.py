"""Training-data pipeline operators (SURVEY §2.9 extension, round 2):
document chunking, deterministic corpus splits, stratified sampling,
n-gram LM counts, and PII redaction — the standard preprocessing stages
between a raw corpus and a tokenizer, each a pure Catalyst expression
(map-only or one shuffle) with a DuckDB oracle twin.

Determinism policy: anything "random" (splits, samples) derives from
sha256 content hashes (functions/text.hash60), so the same row lands in
the same split/sample on any cluster, any partitioning, any engine —
which is what makes 100 TB pipeline runs reproducible and auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions import text as T
from data_integration_case_study_spark.functions.numeric import dsum, dsum_sql
from data_integration_case_study_spark.functions.text import hash60, hash60_sql
from data_integration_case_study_spark.plans.text_queries import (
    DOC_FINGERPRINTS_SQL,
    LANG_ID_HEURISTIC_SQL,
    QUALITY_SCORES_SQL,
)
from data_integration_case_study_spark.sources.readers import (
    read_parquet_table,
    spread_to_parallelism,
)

# --- document chunking -----------------------------------------------------

_CHUNK = 50     # tokens per chunk
_STRIDE = 40    # chunk start stride → 10-token overlap between neighbors


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping token-bounded chunks (the unit a
    tokenizer/packer consumes). Chunk starts at token 1+STRIDE*i while the
    start is in range; all-expression (sequence → transform → slice), so
    the explode is the only row amplification and the stage is map-only.
    """
    d = read_parquet_table(spark, sf_dir, "documents")
    toks = T.tokenize(F.col("text"))
    # chunk i exists while its start (1 + STRIDE*i) is within the doc:
    # i = 0 .. floor((n_tokens - 1) / STRIDE)
    chunks = d.withColumn("__toks", toks).filter(F.size("__toks") > 0).select(
        "doc_id",
        "lang",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.size("__toks") - 1) / _STRIDE).cast("int"),
            )
        ).alias("chunk_idx"),
        "__toks",
    )
    return chunks.select(
        "doc_id",
        "lang",
        "chunk_idx",
        F.concat_ws(
            " ", F.slice(F.col("__toks"), F.col("chunk_idx") * _STRIDE + 1, _CHUNK)
        ).alias("chunk_text"),
        F.least(
            F.size(F.col("__toks")) - F.col("chunk_idx") * _STRIDE, F.lit(_CHUNK)
        ).alias("chunk_tokens"),
    )


DOC_CHUNKING_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, lang, t,
         unnest(generate_series(0, CAST(floor((len(t) - 1) / {_STRIDE}) AS INT))) AS chunk_idx
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, lang, chunk_idx,
       array_to_string(list_slice(t, chunk_idx * {_STRIDE} + 1,
                                  chunk_idx * {_STRIDE} + {_CHUNK}), ' ') AS chunk_text,
       CAST(least(len(t) - chunk_idx * {_STRIDE}, {_CHUNK}) AS INT) AS chunk_tokens
FROM idx
"""


# --- deterministic corpus split -------------------------------------------


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic 80/10/10 split with per-(split, lang) counts.
    The split is a pure function of doc_id — reproducible on any cluster,
    stable under re-partitioning, no RNG state to ship."""
    d = read_parquet_table(spark, sf_dir, "documents")
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


TRAIN_VAL_TEST_SPLIT_SQL = f"""
SELECT CASE WHEN {hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 80 THEN 'train'
            WHEN {hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% per-language sample, hash-deterministic (the scalable form of
    ``sampleBy``: no RNG, no driver-held fractions map — the stratum is
    part of the hash input, so adding strata never reshuffles old ones)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    keep = (
        hash60(F.concat_ws(":", F.col("lang"), F.col("doc_id").cast("string"))) % 10
    ) == 0
    return d.filter(keep).select("doc_id", "lang")


STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {hash60_sql("lang || ':' || CAST(doc_id AS VARCHAR)")} % 10 = 0
"""


# --- weighted Bernoulli sampling -------------------------------------------


def weighted_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (importance) sampling: each order is kept
    with probability proportional to its value (p = totalprice/500k,
    capped at 1) by comparing the row-key hash against floor(p * 2^60)
    — the reproducible form of weighted sampling a training-data mixer
    needs: the keep decision is a pure function of the row, so reruns,
    retries and incremental extensions of the corpus never resample
    old rows (same property as the hash split/stratified samplers).

    Emits the per-status audit (rows, kept, realized vs expected rate)
    a sampling pipeline logs; expected rate = mean p via grid-snapped
    exact sums. Map-only decision, one small aggregation."""
    o = read_parquet_table(spark, sf_dir, "orders")
    p = F.least(F.col("o_totalprice") / F.lit(500000.0), F.lit(1.0))
    thresh = F.floor(p * F.lit(float(1 << 60)))
    kept = hash60(F.col("o_orderkey").cast("string")) < thresh
    grid = F.lit(float(1 << 40))
    psnap = F.floor(p * grid + F.lit(0.5)).cast("decimal(38,0)")
    return (
        o.select("o_orderstatus", kept.cast("int").alias("__k"), psnap.alias("__p"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__k").alias("n_sampled"),
            (
                F.sum("__k").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("realized_rate"),
            (
                F.sum("__p").cast("double")
                / F.count(F.lit(1)).cast("double")
                / grid
            ).alias("expected_rate"),
        )
    )


WEIGHTED_BERNOULLI_SAMPLE_SQL = f"""
WITH s AS (
  SELECT o_orderstatus,
         CASE WHEN {hash60_sql("CAST(o_orderkey AS VARCHAR)")}
                   < CAST(floor(least(o_totalprice / 500000.0, 1.0)
                                * 1152921504606846976.0) AS BIGINT)
              THEN 1 ELSE 0 END AS k,
         CAST(floor(least(o_totalprice / 500000.0, 1.0)
                    * 1099511627776.0 + 0.5) AS DECIMAL(38,0)) AS p
  FROM orders
)
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(k) AS BIGINT) AS n_sampled,
       CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS realized_rate,
       CAST(CAST(SUM(p) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         / 1099511627776.0 AS expected_rate
FROM s GROUP BY 1
"""


def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SIZE weighted sampling without replacement (Efraimidis-
    Spirakis 2006): every order draws the key ln(u)/w — u a uniform
    hash draw, w = totalprice — and the k=100 LARGEST keys are the
    sample; inclusion probability tracks the weight share, and unlike
    the Bernoulli sampler the output size is exactly k, which is what
    a fixed-budget eval-set builder needs. Deterministic: u is the
    row-key hash, so the sample is a pure function of the corpus —
    reruns and cluster re-partitionings reproduce it.

    Shape: a map-only key computation, then a global top-k cut —
    Catalyst turns ORDER BY + LIMIT into TakeOrdered (per-partition
    heaps + a k-row merge, never a full sort; same shape as
    topk_orders). Determinism of the cut: keys snap to the 2^40
    integer grid via floor(x * 2^40 + 0.5) (all IEEE-exact steps —
    round()'s decimal-string semantics differ between engines) and
    ties break on the order key."""
    o = read_parquet_table(spark, sf_dir, "orders")
    h = hash60(F.col("o_orderkey").cast("string"))
    # u in (0, 1]: (h+1)/2^60 — never 0, so ln(u) is finite
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = F.floor(
        (F.log(u) / F.col("o_totalprice")) * F.lit(float(1 << 40)) + F.lit(0.5)
    ).cast("long")
    return (
        o.select("o_orderkey", "o_totalprice", key.alias("key_scaled"))
        .orderBy(F.desc("key_scaled"), F.asc("o_orderkey"))
        .limit(100)
    )


WEIGHTED_RESERVOIR_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT o_orderkey, o_totalprice,
         CAST(floor(
           (ln((CAST({hash60_sql("CAST(o_orderkey AS VARCHAR)")} AS BIGINT) + 1)
               / 1152921504606846976.0)
            / o_totalprice) * 1099511627776.0 + 0.5) AS BIGINT) AS key_scaled
  FROM orders
)
SELECT o_orderkey, o_totalprice, key_scaled
FROM keyed ORDER BY key_scaled DESC, o_orderkey LIMIT 100
"""


# --- n-gram language-model counts -----------------------------------------


def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (the LM-statistics shape: explode n-grams, one
    partial+final count agg; freq floor bounds the output to the head of
    the Zipf curve)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    grams = d.select(
        F.explode(T.word_ngrams(T.tokenize(F.col("text")), 2)).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 3)
    )


BIGRAM_COUNTS_SQL = """
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t FROM documents
),
grams AS (
  SELECT t[i] || ' ' || t[i+1] AS bigram
  FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM toks)
)
SELECT bigram, COUNT(*) AS freq FROM grams GROUP BY bigram HAVING COUNT(*) >= 3
"""


# --- PII redaction ---------------------------------------------------------

# dialect-portable patterns: explicit character classes only (no \w/\b —
# Java and RE2 disagree on their Unicode behavior)
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
_LONGNUM_RE = "[0-9][0-9 ()+.-]{5,}[0-9]"


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails and phone-shaped digit runs from the corpus — the
    compliance pass every training pipeline runs before tokenization.
    Map-only regexp_replace chain (codegen), flagging which docs changed
    so the redaction rate is auditable."""
    d = read_parquet_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _LONGNUM_RE,
        "[NUM]",
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        (clean != F.col("text")).alias("was_redacted"),
    )


PII_REDACTION_SQL = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                      '{_LONGNUM_RE}', '[NUM]', 'g') AS clean_text,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                      '{_LONGNUM_RE}', '[NUM]', 'g') <> text AS was_redacted
FROM documents
"""


# --- sequence packing ------------------------------------------------------

_SEQ_BUDGET = 512  # tokens per packed training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style sequence packing: chunks are laid end-to-end in a
    deterministic order (lang partition, doc_id, chunk_idx) and cut into
    ``_SEQ_BUDGET``-token bins by cumulative token count — the packing a
    tokenizer feeds a trainer, expressed as ONE window cumsum (no
    sequential driver loop; each lang partition packs independently,
    which is also how you'd shard the real job). Greedy best-fit packs
    ~equally well only with an inherently sequential scan; the cumsum
    form is the distributed-friendly contract. Emits per (lang, seq_id):
    chunk count and token fill (≤ budget + max_chunk - 1 overflow rule:
    a chunk goes to the bin its cumulative START falls in)."""
    from pyspark.sql import Window as W

    chunks = doc_chunking(spark, sf_dir)
    # ROWS frame pinned explicitly: the default RANGE frame would sum
    # ordering-key PEERS together, diverging from the oracle's ROWS frame
    # if (doc_id, chunk_idx) ever stopped being unique
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    binned = chunks.select(
        "lang",
        "chunk_tokens",
        F.floor(
            (F.sum("chunk_tokens").over(w) - F.col("chunk_tokens"))
            / F.lit(_SEQ_BUDGET)
        ).alias("seq_id"),
    )
    return binned.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_tokens").cast("long").alias("n_tokens"),
    )


PACK_SEQUENCES_SQL = f"""
WITH chunks AS ({DOC_CHUNKING_SQL}),
binned AS (
  SELECT lang, chunk_tokens,
         CAST(floor((SUM(chunk_tokens) OVER (PARTITION BY lang
                       ORDER BY doc_id, chunk_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - chunk_tokens) / {_SEQ_BUDGET}) AS BIGINT) AS seq_id
  FROM chunks
)
SELECT lang, seq_id, COUNT(*) AS n_chunks,
       CAST(SUM(chunk_tokens) AS BIGINT) AS n_tokens
FROM binned GROUP BY lang, seq_id
"""


# --- CDC merge / upsert ----------------------------------------------------


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change batch to the orders snapshot: every key%10==0 order
    gets a status overwrite and a repriced total at version 2; last-wins
    keyed merge (operators/merge.merge_upsert) resolves the winners."""
    from data_integration_case_study_spark.operators.merge import merge_upsert

    o = read_parquet_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice").withColumn(
        "version", F.lit(1)
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    return merge_upsert(base, updates, ["o_orderkey"], "version")


MERGE_UPSERT_ORDERS_SQL = """
WITH unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version, 0 AS src
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice * CAST(1.1 AS DOUBLE), 2, 1
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o_orderkey, o_orderstatus, o_totalprice, version FROM (
  -- full tie chain of operators/merge.merge_upsert: version, src, then
  -- the row content column by column (desc, nulls last) — unreachable
  -- in this fixture (one row per key per side) but replayed verbatim so
  -- the oracle does not silently depend on tie-freeness
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC, src DESC,
                                        o_orderkey DESC NULLS LAST,
                                        o_orderstatus DESC NULLS LAST,
                                        o_totalprice DESC NULLS LAST,
                                        version DESC NULLS LAST) AS rn
  FROM unioned
) WHERE rn = 1
"""


def cdc_apply_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply (upserts + tombstones) to the orders snapshot:
    every key%10==0 order is upserted (status 'U', repriced) at version 2
    and every key%7==0 order is deleted at version 3 — so a key hit by
    both rules is deleted (the higher-versioned tombstone wins), which is
    exactly the log-compaction precedence ``merge_apply_changes``
    guarantees in one window pass."""
    from data_integration_case_study_spark.operators.merge import (
        merge_apply_changes,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice").withColumn(
        "version", F.lit(1)
    )
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
    return merge_apply_changes(
        base, upserts.unionByName(deletes), ["o_orderkey"]
    )


CDC_APPLY_CHANGES_ORDERS_SQL = """
WITH unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version, 0 AS src, 'U' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice * CAST(1.1 AS DOUBLE), 2, 1, 'U'
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 1, 'D'
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT o_orderkey, o_orderstatus, o_totalprice, version FROM (
  -- full tie chain of operators/merge.merge_apply_changes: version, src,
  -- tombstone-beats-update, then row content (desc, nulls last) —
  -- unreachable in this fixture but replayed verbatim so the oracle does
  -- not silently depend on tie-freeness
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC, src DESC,
                                        CAST(op = 'D' AS INT) DESC,
                                        o_orderkey DESC NULLS LAST,
                                        o_orderstatus DESC NULLS LAST,
                                        o_totalprice DESC NULLS LAST,
                                        version DESC NULLS LAST) AS rn
  FROM unioned
) WHERE rn = 1 AND op <> 'D'
"""


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two versions of the orders table
    into (key, change ∈ added/removed/changed, old_price, new_price) —
    the audit query every CDC/replication pipeline runs to prove the
    applied snapshot matches the source. Snapshot B simulates drift:
    key%13==0 rows dropped, key%10==0 repriced, key%11==0 cloned into a
    new id range.

    Scale shape: ONE full-outer equi-join on the key plus null-safe
    column comparison (IS DISTINCT FROM) — no collect, no row loops; the
    'same' rows are filtered before anything leaves the join stage."""
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 10 == 0,
                F.col("o_totalprice") * F.lit(1.1),
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    a = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_price"),
    )
    bb = b.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("new_status"),
        F.col("o_totalprice").alias("new_price"),
    )
    j = a.join(bb, "key", "full_outer")
    change = (
        F.when(F.col("old_price").isNull() & F.col("old_status").isNull(), "added")
        .when(F.col("new_price").isNull() & F.col("new_status").isNull(), "removed")
        .when(
            ~F.col("old_price").eqNullSafe(F.col("new_price"))
            | ~F.col("old_status").eqNullSafe(F.col("new_status")),
            "changed",
        )
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select("key", "change", "old_price", "new_price")
    )


SNAPSHOT_DIFF_ORDERS_SQL = """
WITH a AS (
  SELECT o_orderkey AS key, o_orderstatus AS old_status,
         o_totalprice AS old_price
  FROM orders
),
b AS (
  SELECT o_orderkey AS key, o_orderstatus AS new_status,
         CASE WHEN o_orderkey % 10 = 0
              THEN o_totalprice * CAST(1.1 AS DOUBLE)
              ELSE o_totalprice END AS new_price
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'N', CAST(1.0 AS DOUBLE)
  FROM orders WHERE o_orderkey % 11 = 0
),
j AS (
  SELECT coalesce(a.key, b.key) AS key, old_status, old_price,
         new_status, new_price,
         CASE WHEN old_price IS NULL AND old_status IS NULL THEN 'added'
              WHEN new_price IS NULL AND new_status IS NULL THEN 'removed'
              WHEN old_price IS DISTINCT FROM new_price
                   OR old_status IS DISTINCT FROM new_status THEN 'changed'
         END AS change
  FROM a FULL OUTER JOIN b ON a.key = b.key
)
SELECT key, change, old_price, new_price FROM j WHERE change IS NOT NULL
"""


# --- BPE tokenizer training --------------------------------------------------

_BPE_ROUNDS = 3


def _train_bpe(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    """Run the iterative BPE training loop; returns the merge list
    [(round, left, right, pair_freq)]. Shared by the train and encode
    queries so the merge table has ONE definition. Every call trains
    from the corpus as it is now: no result is reused across queries."""
    from data_integration_case_study_spark.operators import cache

    d = _spread(read_parquet_table(spark, sf_dir, "documents").select("text"))
    words = cache.track(
        d.select(F.explode(T.tokenize(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("s"),
        )
    )
    base_words = words
    merges = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        syms = F.filter(F.split(F.col("s"), " "), lambda t: t != "")
        pairs = words.select(
            "freq",
            F.explode(
                F.when(
                    F.size(syms) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - 1),
                        lambda i: F.struct(
                            F.element_at(syms, i).alias("l"),
                            F.element_at(syms, i + 1).alias("r"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.col("pair_freq").desc(), F.col("l"), F.col("r"))
            .first()
        )
        if best is None:
            # vocabulary exhausted (no adjacent pairs left) — stop early
            # with the merges found rather than dereferencing None
            break
        merges.append((rnd, best["l"], best["r"], best["pair_freq"]))
        words = words.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f" {best['l']} {best['r']} "),
                F.lit(f" {best['l']}{best['r']} "),
            ),
        )
    # the merge list is fully driver-side now — the training cache can go
    base_words.unpersist()
    return merges


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (the merge-table half of byte-pair
    encoding): start from the corpus word-frequency table with words as
    space-separated character symbols, and for each round pick the
    highest-frequency adjacent symbol pair (ties: lexicographic) and
    merge it corpus-wide. Emits the merge table (round, left, right,
    pair_freq) — the artifact a tokenizer ships.

    Scale shape: training runs over the VOCABULARY (word, freq) summary,
    not the corpus — one explode+agg per round over vocab-cardinality
    rows, map-side combined, with one driver-side argmax row per round
    (the same bounded per-round-action pattern as kmeans_centroids /
    connected_components; rounds = merge-table size, a constant).

    Determinism: the merge application is a literal string replace of
    ' l r ' with ' lr ' — LEFT-TO-RIGHT, NON-OVERLAPPING in both Spark
    (Java String.replace) and DuckDB (replace), so repeated symbols
    resolve identically in both engines (' a a a a ' + (a,a) →
    ' aa a a ': the scan resumes AFTER the replacement). That convention
    is the oracle contract; classic greedy BPE re-scans from the merged
    token and would differ only on runs ≥ 3 of the same symbol."""
    return spark.createDataFrame(
        _train_bpe(spark, sf_dir),
        "round int, left_sym string, right_sym string, pair_freq bigint",
    )


def bpe_encode_stats(
    spark: SparkSession, sf_dir: str,
    merges: list[tuple[int, str, str, int]] | None = None,
) -> DataFrame:
    """BPE ENCODE (the apply half): tokenize every document with the
    trained merge table and report per-doc piece counts — the
    compression accounting (pieces per whitespace token) a token-budget
    planner uses to convert corpus size into training tokens.

    Scale shape: training happens once (vocabulary-sized, see
    :func:`bpe_train_merges`); encoding is a MAP-ONLY replace chain over
    the exploded words — the merges ride into the closure as literals,
    exactly how a broadcast merge table behaves at 100 TB — plus one
    per-doc count agg.

    ``merges``: pass a trained merge list (same shape _train_bpe
    returns) to skip retraining — the trained-artifact convention shared
    with pq_topk's codebooks and ivf_topk's centroids. The catalog entry
    trains its own (the driver calls queries standalone)."""
    if merges is None:
        merges = _train_bpe(spark, sf_dir)
    d = _spread(read_parquet_table(spark, sf_dir, "documents").select("doc_id", "text"))
    w = d.select("doc_id", F.explode(T.tokenize(F.col("text"))).alias("w"))
    s_col = F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 "))
    for _, left, right, _freq in merges:
        s_col = F.replace(
            s_col, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        )
    pieces = F.size(F.filter(F.split(s_col, " "), lambda t: t != ""))
    per_word = w.select("doc_id", pieces.alias("p"))
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("p").alias("n_pieces"),
        (F.sum("p").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "pieces_per_token"
        ),
    )


def _bpe_round_sql(vocab_cte: str, out_prefix: str) -> str:
    """One unrolled BPE round: from vocab CTE ``{vocab_cte}(freq, s)``
    derive ``{out_prefix}_best(l, r, pair_freq)`` and the merged vocab
    ``{out_prefix}_vocab(freq, s)``."""
    return f"""
{out_prefix}_pairs AS (
  SELECT freq, syms[i] AS l, syms[i+1] AS r
  FROM (
    SELECT freq, list_filter(string_split(s, ' '), t -> t <> '') AS syms
    FROM {vocab_cte}
  ), unnest(generate_series(1, greatest(len(syms) - 1, 0))) AS t(i)
),
{out_prefix}_best AS (
  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS pair_freq
  FROM {out_prefix}_pairs GROUP BY l, r
  ORDER BY pair_freq DESC, l, r LIMIT 1
),
{out_prefix}_vocab AS (
  SELECT freq,
         replace(s, ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS s
  FROM {vocab_cte} CROSS JOIN {out_prefix}_best b
)"""


BPE_TRAIN_MERGES_SQL = f"""
WITH words AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS freq,
         ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s
  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS w
        FROM documents)
  GROUP BY w
),
{_bpe_round_sql('words', 'r1')},
{_bpe_round_sql('r1_vocab', 'r2')},
{_bpe_round_sql('r2_vocab', 'r3')}
SELECT CAST(1 AS INT) AS round, l AS left_sym, r AS right_sym, pair_freq FROM r1_best
UNION ALL
SELECT 2, l, r, pair_freq FROM r2_best
UNION ALL
SELECT 3, l, r, pair_freq FROM r3_best
"""


BPE_ENCODE_STATS_SQL = f"""
WITH words AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS freq,
         ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s
  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS w
        FROM documents)
  GROUP BY w
),
{_bpe_round_sql('words', 'r1')},
{_bpe_round_sql('r1_vocab', 'r2')},
{_bpe_round_sql('r2_vocab', 'r3')},
docw AS (
  SELECT doc_id, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS w
        FROM documents)
),
enc AS (
  SELECT doc_id,
         replace(replace(replace(docw.s,
             ' ' || b1.l || ' ' || b1.r || ' ', ' ' || b1.l || b1.r || ' '),
             ' ' || b2.l || ' ' || b2.r || ' ', ' ' || b2.l || b2.r || ' '),
             ' ' || b3.l || ' ' || b3.r || ' ', ' ' || b3.l || b3.r || ' ') AS s
  FROM docw CROSS JOIN r1_best b1 CROSS JOIN r2_best b2 CROSS JOIN r3_best b3
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(len(list_filter(string_split(s, ' '), t -> t <> ''))) AS BIGINT)
         AS n_pieces,
       CAST(SUM(len(list_filter(string_split(s, ' '), t -> t <> ''))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS pieces_per_token
FROM enc GROUP BY doc_id
"""


# shared scan-spread policy (sources.readers.spread_to_parallelism);
# kept under the local name the queries and plan-shape tests use
_spread = spread_to_parallelism


# --- repetition-based quality filters (Gopher-style) -----------------------


def repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics — the Gopher/C4 class of quality
    signals that length/punctuation ratios (``quality_scores``) cannot
    see: a document that endlessly repeats one phrase has fine
    punctuation but no information.

    Metrics: top_word_frac (most frequent word / total words),
    dup_word_frac (1 - distinct/total), rep_2gram_frac (fraction of
    2-gram occurrences that are repeats). All are exact-integer ratios →
    bit-stable doubles in any engine. ``keep`` applies the filter
    thresholds as an INT flag. Dataflow is two explode → count-agg
    branches joined on doc_id — codegen end to end, no HOF loops on the
    hot path, two shuffles total."""
    d = _spread(read_parquet_table(spark, sf_dir, "documents").select("doc_id", "text"))
    words = d.select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    word_stats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("c").alias("max_word_count"),
    )
    grams = d.select(
        "doc_id",
        F.explode(T.word_ngrams(T.tokenize(F.col("text")), 2)).alias("g"),
    )
    gc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    gram_stats = gc.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        F.count(F.lit(1)).alias("n_distinct_2grams"),
    )
    top_word_frac = F.col("max_word_count").cast("double") / F.col("n_words").cast("double")
    dup_word_frac = (
        F.col("n_words") - F.col("n_distinct_words")
    ).cast("double") / F.col("n_words").cast("double")
    rep_2gram_frac = (
        F.col("n_2grams") - F.col("n_distinct_2grams")
    ).cast("double") / F.col("n_2grams").cast("double")
    return (
        word_stats.join(gram_stats, "doc_id")
        .select(
            "doc_id",
            top_word_frac.alias("top_word_frac"),
            dup_word_frac.alias("dup_word_frac"),
            rep_2gram_frac.alias("rep_2gram_frac"),
            (
                (top_word_frac < F.lit(0.2)) & (rep_2gram_frac < F.lit(0.6))
            ).cast("int").alias("keep"),
        )
    )


REPETITION_FILTERS_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
words AS (SELECT doc_id, unnest(t) AS w FROM toks),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY 1, 2),
word_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         COUNT(*) AS n_distinct_words, MAX(c) AS max_word_count
  FROM wc GROUP BY doc_id
),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        FROM toks)
),
gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
gram_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
         COUNT(*) AS n_distinct_2grams
  FROM gc GROUP BY doc_id
)
SELECT doc_id,
       CAST(max_word_count AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
       CAST(n_words - n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_word_frac,
       CAST(n_2grams - n_distinct_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE) AS rep_2gram_frac,
       CAST(CAST(max_word_count AS DOUBLE) / CAST(n_words AS DOUBLE) < CAST(0.2 AS DOUBLE)
            AND CAST(n_2grams - n_distinct_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE) < CAST(0.6 AS DOUBLE)
            AS INT) AS keep
FROM word_stats JOIN gram_stats USING (doc_id)
"""


# --- benchmark decontamination ----------------------------------------------

_DECON_N = 3  # n-gram width; 31-word synthetic vocab → 3-grams discriminate


def ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: flag training documents sharing any
    word n-gram with a held-out benchmark set (doc_id % 100 == 0 stands
    in for the eval suite). The industry-standard pre-training hygiene
    step (n-gram collision, not similarity — one shared span is enough).

    Scale shape: distinct (doc, hash60(ngram)) pairs on both sides, one
    equi-join on the 8-byte gram hash (never on gram text), count-distinct
    agg. The benchmark side is ~1% of the corpus; at 100 TB the join is
    hash-partitioned on the gram hash and the benchmark side broadcasts
    only if it genuinely fits — no hint forced here."""
    d = _spread(read_parquet_table(spark, sf_dir, "documents").select("doc_id", "text"))
    hashed = (
        d.select(
            "doc_id",
            F.explode(
                T.word_ngrams(T.tokenize(F.col("text")), _DECON_N)
            ).alias("g"),
        )
        .select("doc_id", hash60("g").alias("gh"))
        .distinct()
    )
    bench = hashed.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("bench_id"), "gh"
    )
    train = hashed.filter(F.col("doc_id") % 100 != 0)
    return (
        train.join(bench, "gh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gh").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


NGRAM_DECONTAMINATION_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         {hash60_sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS gh
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
        FROM toks)
),
bench AS (SELECT doc_id AS bench_id, gh FROM grams WHERE doc_id % 100 = 0),
train AS (SELECT doc_id, gh FROM grams WHERE doc_id % 100 <> 0)
SELECT doc_id, COUNT(DISTINCT gh) AS n_shared_ngrams,
       COUNT(DISTINCT bench_id) AS n_bench_docs
FROM train JOIN bench USING (gh)
GROUP BY doc_id
"""


# --- bigram-LM document scoring ---------------------------------------------


def bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: average add-one-smoothed bigram log
    probability per document under the corpus's own bigram LM — the
    perplexity-filter shape (train a cheap LM on the corpus, score every
    document, drop the tail) of a CCNet-style pipeline.

    Cross-engine FP discipline: each bigram's log prob is rounded to 6
    decimals BEFORE aggregation (JVM Math.log and libm ln differ in the
    last ulp), then accumulated in decimal (exact, order-independent) and
    divided by the exact bigram count.

    Scale shape: the naive plan joins every bigram OCCURRENCE against the
    unigram counts on its first word — a shuffle of the full exploded
    corpus keyed by w1, which is Zipf-skewed (stopword keys get the bulk
    of the corpus). Instead collapse to distinct (doc_id, bigram) pairs
    with an occurrence count first (map-side combine does most of the
    work), score each DISTINCT bigram once at bigram-type cardinality,
    and weight by occurrence. The weighted decimal sum
    cast(lp as dec(20,8)) * occ is exact, so the total is bit-identical
    to summing the per-occurrence rows — the oracle keeps the naive
    per-occurrence form and still hash-matches."""
    d = _spread(read_parquet_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select("doc_id", T.tokenize(F.col("text")).alias("t"))
    bigrams = toks.select(
        "doc_id", F.explode(T.word_ngrams(F.col("t"), 2)).alias("bigram")
    ).withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
    pairs = bigrams.groupBy("doc_id", "bigram", "w1").agg(
        F.count(F.lit(1)).alias("occ")
    )
    words = toks.select(F.explode("t").alias("w"))
    big_c = pairs.groupBy("bigram", "w1").agg(F.sum("occ").alias("bc"))
    uni_c = words.groupBy(F.col("w").alias("u")).agg(F.count(F.lit(1)).alias("uc"))
    vocab = words.agg(F.countDistinct("w").alias("v"))
    logp = F.round(
        F.log(
            (F.col("bc") + 1).cast("double") / (F.col("uc") + F.col("v")).cast("double")
        ),
        6,
    )
    blp = (
        big_c.join(uni_c, F.col("w1") == F.col("u"))
        .join(F.broadcast(vocab))
        .select("bigram", logp.alias("lp"))
    )
    # decimal(20,8) * decimal(10,0) -> decimal(31,8): exact, no precision
    # loss; summing it == summing occ per-occurrence copies of lp
    weighted = pairs.join(blp, "bigram").select(
        "doc_id",
        (F.col("lp").cast("decimal(20,8)") * F.col("occ").cast("decimal(10,0)")).alias(
            "wlp"
        ),
        "occ",
    )
    return weighted.groupBy("doc_id").agg(
        (F.sum("wlp").cast("double") / F.sum("occ")).alias("avg_logprob"),
        F.sum("occ").alias("n_bigrams"),
    )


BIGRAM_DOC_SCORES_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
bigrams AS (
  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        FROM toks)
),
words AS (SELECT unnest(t) AS w FROM toks),
big_c AS (SELECT bigram, COUNT(*) AS bc FROM bigrams GROUP BY bigram),
uni_c AS (SELECT w AS u, COUNT(*) AS uc FROM words GROUP BY w),
vocab AS (SELECT COUNT(DISTINCT w) AS v FROM words),
scored AS (
  SELECT doc_id,
         round(ln(CAST(bc + 1 AS DOUBLE) / CAST(uc + v AS DOUBLE)), 6) AS lp
  FROM bigrams JOIN big_c USING (bigram)
  JOIN uni_c ON w1 = u
  CROSS JOIN vocab
)
SELECT doc_id, {dsum_sql('lp')} / COUNT(*) AS avg_logprob,
       COUNT(*) AS n_bigrams
FROM scored GROUP BY doc_id
"""


# --- deterministic negative sampling -------------------------------------------

_NEG_K = 4


def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender/contrastive
    training pairs: for every observed (customer, part) purchase, draw
    4 pseudo-random candidate parts from hash60(user|item|slot) over
    the dense part-key domain, then DROP any candidate the customer
    actually bought (a "negative" that is secretly positive poisons the
    loss) — the classic training-pair generator, made reproducible on
    any cluster because the draws are content hashes, not RNG state.

    Shape: positives collapse to DISTINCT pairs first (map-side
    combine); the 4x explode is map-only; the exclusion is one
    left-anti join back against the positives on (customer, candidate).
    Collision survivors < 4 per positive are reported as-is (the
    re-roll loop belongs to the trainer's epoch seed, not the corpus).
    Output rows carry the slot so downstream shard assignment stays
    deterministic."""
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pos = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    n_parts = read_parquet_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("np")
    )
    cand = (
        pos.crossJoin(F.broadcast(n_parts))
        .select(
            "user",
            "item",
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("slot"),
            "np",
        )
        .select(
            "user",
            "item",
            "slot",
            (
                hash60(
                    F.concat_ws("|", F.col("user"), F.col("item"), F.col("slot"))
                )
                % F.col("np")
            ).alias("neg_item"),
        )
    )
    excl = pos.select(F.col("user").alias("u2"), F.col("item").alias("i2"))
    survivors = cand.join(
        excl,
        (cand.user == excl.u2) & (cand.neg_item == excl.i2),
        "left_anti",
    )
    return survivors.select(
        "user",
        F.col("item").alias("pos_item"),
        F.col("slot").cast("int").alias("slot"),
        "neg_item",
    )


NEGATIVE_SAMPLING_PAIRS_SQL = f"""
WITH pos AS (
  SELECT DISTINCT o.o_custkey AS usr, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
np_ AS (SELECT COUNT(*) AS np FROM part),
cand AS (
  SELECT usr, item, slot,
         {hash60_sql("CAST(usr AS VARCHAR) || '|' || CAST(item AS VARCHAR)"
                     " || '|' || CAST(slot AS VARCHAR)")} % np AS neg_item
  FROM pos, np_, (SELECT unnest(generate_series(0, {_NEG_K - 1})) AS slot)
)
SELECT c.usr AS "user", c.item AS pos_item, CAST(c.slot AS INT) AS slot,
       c.neg_item
FROM cand c
LEFT JOIN pos p ON p.usr = c.usr AND p.item = c.neg_item
WHERE p.usr IS NULL
"""


# --- lift / gains curve over the LM score ------------------------------------


def lift_curve_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gains curve of the bigram-LM quality
    score as a ranker of English documents — the calibration report
    read before turning a model score into a corpus filter ("how much
    of the target do the top deciles capture?"). Companion to
    roc_auc_quality: AUC summarizes the ranking in one number, the
    lift table shows WHERE the ranking earns it.

    Shape: the score pass is the shared bigram_doc_scores dataflow; the
    curve itself is one ntile window over doc-domain rows and one
    decile-grid aggregation with window totals. Determinism: ntile over
    (score DESC, doc_id) is an exact integer partition; every rate is
    one double division of exact counts; both engines assign ntile
    remainders to the leading buckets."""
    d = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("pos")
    )
    scored = bigram_doc_scores(spark, sf_dir).join(d, "doc_id")
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
    deciles = scored.withColumn("decile", F.ntile(10).over(w))
    per = deciles.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("pos").alias("n_pos")
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    g = (
        per.withColumn("tot_docs", F.sum("n_docs").over(wall))
        .withColumn("tot_pos", F.sum("n_pos").over(wall))
        .withColumn("cum_pos", F.sum("n_pos").over(wcum))
    )
    rate = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    base = F.col("tot_pos").cast("double") / F.col("tot_docs").cast("double")
    return g.select(
        F.col("decile").cast("int").alias("decile"),
        "n_docs",
        "n_pos",
        rate.alias("pos_rate"),
        (rate / base).alias("lift"),
        (F.col("cum_pos").cast("double") / F.col("tot_pos").cast("double")).alias(
            "cum_capture"
        ),
    ).orderBy("decile")


def calibration_bins_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the composite quality score read as a
    probability of English — the third leg of the model-eval tripod
    (roc_auc_quality ranks, lift_curve_lm localizes, calibration asks
    whether the SCORE VALUES can be trusted as probabilities before a
    threshold is set on them). One row per score level: predicted
    (the score itself), observed positive rate, the gap, and the
    level's weighted contribution to expected calibration error
    (ECE = sum of ece_contrib).

    Shape: one map-only score projection, one 6-level aggregation, one
    broadcast total. Every rate is a single double division of exact
    counts."""
    from data_integration_case_study_spark.functions import text as T

    d = read_parquet_table(spark, sf_dir, "documents").select(
        T.quality_score(F.col("text")).alias("quality"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    per = d.groupBy("quality").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("pos").alias("n_pos")
    )
    tot = per.agg(F.sum("n_docs").alias("tot"))
    actual = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    gap = actual - F.col("quality")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "quality",
            "n_docs",
            "n_pos",
            actual.alias("observed_rate"),
            gap.alias("gap"),
            (
                F.abs(gap)
                * F.col("n_docs").cast("double")
                / F.col("tot").cast("double")
            ).alias("ece_contrib"),
        )
        .orderBy("quality")
    )


CALIBRATION_BINS_QUALITY_SQL = f"""
WITH q AS ({QUALITY_SCORES_SQL}),
lab AS (
  SELECT q.quality,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM q JOIN documents d ON q.doc_id = d.doc_id
),
per AS (
  SELECT quality, COUNT(*) AS n_docs, SUM(pos) AS n_pos
  FROM lab GROUP BY quality
),
tot AS (SELECT SUM(n_docs) AS tot FROM per)
SELECT quality, n_docs, CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS observed_rate,
       CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) - quality AS gap,
       abs(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) - quality)
         * CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE) AS ece_contrib
FROM per, tot
"""


LIFT_CURVE_LM_SQL = f"""
WITH s AS ({BIGRAM_DOC_SCORES_SQL}),
lab AS (
  SELECT s.doc_id, s.avg_logprob,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM s JOIN documents d ON s.doc_id = d.doc_id
),
dec AS (
  SELECT pos, ntile(10) OVER (ORDER BY avg_logprob DESC, doc_id) AS decile
  FROM lab
),
per AS (
  SELECT decile, COUNT(*) AS n_docs, SUM(pos) AS n_pos
  FROM dec GROUP BY decile
),
g AS (
  SELECT decile, n_docs, n_pos,
         SUM(n_docs) OVER () AS tot_docs,
         SUM(n_pos) OVER () AS tot_pos,
         SUM(n_pos) OVER (ORDER BY decile
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_pos
  FROM per
)
SELECT CAST(decile AS INT) AS decile, n_docs, CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pos_rate,
       (CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))
         / (CAST(tot_pos AS DOUBLE) / CAST(tot_docs AS DOUBLE)) AS lift,
       CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS cum_capture
FROM g
ORDER BY decile
"""


# --- deterministic global shuffle into shards -------------------------------

_N_SHARDS = 16


def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every document gets a
    content-hash shuffle key, a shard (`hash % N`), and a position within
    its shard — the exact shape a sharded training-data writer consumes
    (one output file per shard, rows in shuffle-key order inside it).

    Scale shape: the shard assignment is map-only; the within-shard
    ordering is a per-shard window (N parallel sorts over ~1/N of the
    data each), never a single global sort. Reproducible on any cluster
    because the order derives from sha256, not from partition layout or
    an RNG."""
    d = read_parquet_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    h = hash60(F.concat(F.lit("shuf1:"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", h.alias("shuffle_key")).withColumn(
        "shard", F.col("shuffle_key") % _N_SHARDS
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).alias("pos_in_shard"),
    )


SHUFFLE_SHARDS_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         {hash60_sql("'shuf1:' || CAST(doc_id AS STRING)")} AS shuffle_key
  FROM documents
)
SELECT doc_id,
       shuffle_key % {_N_SHARDS} AS shard,
       CAST(row_number() OVER (PARTITION BY shuffle_key % {_N_SHARDS}
                               ORDER BY shuffle_key, doc_id) AS INT)
         AS pos_in_shard
FROM keyed
"""


# --- source mixture weights (data mixing) -----------------------------------

_MIX_BUDGET_FRAC = "0.4"  # corpus-token budget as a fraction (exact decimal)


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static data-mixing: give every source an equal share of a corpus
    token budget and compute the per-source sampling weight that hits it,
    plus the REALIZED deterministic sample (docs whose content hash
    clears the weight threshold) — so the output shows both the plan
    (weight) and the proof (sampled doc/token counts).

    Arithmetic discipline: budget and thresholds are integer-floored,
    weights are a single integer/integer double division — every value
    bit-stable across engines. Scale shape: one map over documents, one
    per-source agg, a 1-row totals broadcast, then a second conditional
    agg — no shuffle wider than the source key."""
    d = read_parquet_table(spark, sf_dir, "documents")
    h = hash60(F.concat(F.lit("mix1:"), F.col("doc_id").cast("string")))
    per_doc = d.select(
        "source",
        F.size(T.tokenize(F.col("text"))).cast("long").alias("toks"),
        (h % 1000000).alias("draw"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("toks").alias("n_tokens")
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("__total"), F.count(F.lit(1)).alias("__nsrc")
    )
    budget = F.floor(
        F.col("__total") * F.lit(float(_MIX_BUDGET_FRAC)) / F.col("__nsrc")
    ).cast("long")
    weighted = per_src.join(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.when(budget >= F.col("n_tokens"), F.lit(1.0))
        .otherwise(budget.cast("double") / F.col("n_tokens").cast("double"))
        .alias("weight"),
    )
    thr = F.floor(F.col("weight") * F.lit(1000000.0)).cast("long")
    sampled = (
        per_doc.join(F.broadcast(weighted.select("source", "weight")), "source")
        .withColumn("__in", (F.col("draw") < thr).cast("long"))
        .groupBy("source")
        .agg(
            F.sum("__in").alias("n_sampled_docs"),
            F.sum(F.col("__in") * F.col("toks")).alias("n_sampled_tokens"),
        )
    )
    return weighted.join(sampled, "source").select(
        "source", "n_docs", "n_tokens", "weight",
        "n_sampled_docs", "n_sampled_tokens",
    )


SOURCE_MIXTURE_WEIGHTS_SQL = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS BIGINT) AS toks,
         {hash60_sql("'mix1:' || CAST(doc_id AS STRING)")} % 1000000 AS draw
  FROM documents
),
per_src AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY source
),
totals AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS nsrc FROM per_src
),
weighted AS (
  SELECT source, n_docs, n_tokens,
         CASE WHEN CAST(floor(total * CAST({_MIX_BUDGET_FRAC} AS DOUBLE) / nsrc) AS BIGINT) >= n_tokens
              THEN CAST(1 AS DOUBLE)
              ELSE CAST(CAST(floor(total * CAST({_MIX_BUDGET_FRAC} AS DOUBLE) / nsrc) AS BIGINT) AS DOUBLE)
                   / CAST(n_tokens AS DOUBLE)
         END AS weight
  FROM per_src CROSS JOIN totals
),
sampled AS (
  SELECT per_doc.source,
         CAST(SUM(CASE WHEN draw < CAST(floor(weight * 1000000.0) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled_docs,
         CAST(SUM(CASE WHEN draw < CAST(floor(weight * 1000000.0) AS BIGINT) THEN toks ELSE 0 END) AS BIGINT) AS n_sampled_tokens
  FROM per_doc JOIN weighted USING (source)
  GROUP BY per_doc.source
)
SELECT source, n_docs, n_tokens, weight, n_sampled_docs, n_sampled_tokens
FROM weighted JOIN sampled USING (source)
"""


# --- corpus retention funnel -------------------------------------------------


def corpus_retention_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline REPORT a corpus curation run produces: how many
    documents survive each cleaning stage, cumulatively — raw →
    language identified → quality ≥ 0.6 → not repetitive →
    exact-dedup-unique. Composes four independently-proven per-doc
    signals (``lang_id``, ``quality_score``, ``repetition_filters``'
    keep flag, content ``fingerprint``) into the governance artifact
    reviewers actually read.

    Scale shape: one map-only projection computes lang/quality/
    fingerprint per doc; the repetition branch is the existing
    two-shuffle agg; one doc_id equi-join; then a single partial+final
    aggregate collapses everything to ONE row (five counters) before a
    map-only ``stack`` unpivots it to (stage, n_docs) — nothing wider
    than a doc_id ever crosses the wire, and the distinct-fingerprint
    counter rides the same aggregate."""
    d = _spread(read_parquet_table(spark, sf_dir, "documents").select("doc_id", "text"))
    flags = d.select(
        "doc_id",
        (T.lang_id(F.col("text")) != "und").alias("f_lang"),
        (T.quality_score(F.col("text")) >= F.lit(0.6)).alias("f_quality"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    rep = repetition_filters(spark, sf_dir).select(
        "doc_id", (F.col("keep") == 1).alias("f_rep")
    )
    j = flags.join(rep, "doc_id")
    surv = F.col("f_lang") & F.col("f_quality") & F.col("f_rep")
    a = j.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum(F.col("f_lang").cast("long")).alias("lang_known"),
        F.sum((F.col("f_lang") & F.col("f_quality")).cast("long")).alias("quality_ok"),
        F.sum(surv.cast("long")).alias("not_repetitive"),
        F.count_distinct(F.when(surv, F.col("fp"))).alias("exact_unique"),
    )
    return a.select(
        F.expr(
            "stack(5, 'raw', raw, 'lang_known', lang_known,"
            " 'quality_ok', quality_ok, 'not_repetitive', not_repetitive,"
            " 'exact_unique', exact_unique) AS (stage, n_docs)"
        )
    )


CORPUS_RETENTION_FUNNEL_SQL = f"""
WITH lid AS ({LANG_ID_HEURISTIC_SQL}),
q AS ({QUALITY_SCORES_SQL}),
fp AS ({DOC_FINGERPRINTS_SQL}),
rep AS ({REPETITION_FILTERS_SQL}),
j AS (
  SELECT lid.doc_id,
         lid.lang_pred <> 'und' AS f_lang,
         q.quality >= CAST(0.6 AS DOUBLE) AS f_quality,
         rep.keep = 1 AS f_rep,
         fp.fingerprint
  FROM lid JOIN q USING (doc_id) JOIN fp USING (doc_id)
  JOIN rep USING (doc_id)
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS raw,
         CAST(SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS lang_known,
         CAST(SUM(CASE WHEN f_lang AND f_quality THEN 1 ELSE 0 END) AS BIGINT) AS quality_ok,
         CAST(SUM(CASE WHEN f_lang AND f_quality AND f_rep THEN 1 ELSE 0 END) AS BIGINT) AS not_repetitive,
         CAST(COUNT(DISTINCT CASE WHEN f_lang AND f_quality AND f_rep
                                  THEN fingerprint END) AS BIGINT) AS exact_unique
  FROM j
)
SELECT 'raw' AS stage, raw AS n_docs FROM a
UNION ALL SELECT 'lang_known', lang_known FROM a
UNION ALL SELECT 'quality_ok', quality_ok FROM a
UNION ALL SELECT 'not_repetitive', not_repetitive FROM a
UNION ALL SELECT 'exact_unique', exact_unique FROM a
"""


QUERIES = {
    "doc_chunking": doc_chunking,
    "corpus_retention_funnel": corpus_retention_funnel,
    "shuffle_shards": shuffle_shards,
    "source_mixture_weights": source_mixture_weights,
    "repetition_filters": repetition_filters,
    "ngram_decontamination": ngram_decontamination,
    "bigram_doc_scores": bigram_doc_scores,
    "lift_curve_lm": lift_curve_lm,
    "calibration_bins_quality": calibration_bins_quality,
    "negative_sampling_pairs": negative_sampling_pairs,
    "train_val_test_split": train_val_test_split,
    "stratified_sample": stratified_sample,
    "weighted_bernoulli_sample": weighted_bernoulli_sample,
    "weighted_reservoir_sample": weighted_reservoir_sample,
    "bigram_counts": bigram_counts,
    "pii_redaction": pii_redaction,
    "pack_sequences": pack_sequences,
    "merge_upsert_orders": merge_upsert_orders,
    "cdc_apply_changes_orders": cdc_apply_changes_orders,
    "snapshot_diff_orders": snapshot_diff_orders,
    "bpe_train_merges": bpe_train_merges,
    "bpe_encode_stats": bpe_encode_stats,
}

ORACLES = {
    "doc_chunking": DOC_CHUNKING_SQL,
    "corpus_retention_funnel": CORPUS_RETENTION_FUNNEL_SQL,
    "shuffle_shards": SHUFFLE_SHARDS_SQL,
    "source_mixture_weights": SOURCE_MIXTURE_WEIGHTS_SQL,
    "repetition_filters": REPETITION_FILTERS_SQL,
    "ngram_decontamination": NGRAM_DECONTAMINATION_SQL,
    "bigram_doc_scores": BIGRAM_DOC_SCORES_SQL,
    "lift_curve_lm": LIFT_CURVE_LM_SQL,
    "calibration_bins_quality": CALIBRATION_BINS_QUALITY_SQL,
    "negative_sampling_pairs": NEGATIVE_SAMPLING_PAIRS_SQL,
    "train_val_test_split": TRAIN_VAL_TEST_SPLIT_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
    "weighted_bernoulli_sample": WEIGHTED_BERNOULLI_SAMPLE_SQL,
    "weighted_reservoir_sample": WEIGHTED_RESERVOIR_SAMPLE_SQL,
    "bigram_counts": BIGRAM_COUNTS_SQL,
    "pii_redaction": PII_REDACTION_SQL,
    "pack_sequences": PACK_SEQUENCES_SQL,
    "merge_upsert_orders": MERGE_UPSERT_ORDERS_SQL,
    "cdc_apply_changes_orders": CDC_APPLY_CHANGES_ORDERS_SQL,
    "snapshot_diff_orders": SNAPSHOT_DIFF_ORDERS_SQL,
    "bpe_train_merges": BPE_TRAIN_MERGES_SQL,
    "bpe_encode_stats": BPE_ENCODE_STATS_SQL,
}

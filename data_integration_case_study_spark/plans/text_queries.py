"""Oracle-paired text-analysis + dedup queries (SURVEY.md §2.9, Phase E).

Near-dup queries run over a constructed corpus: ``documents`` plus mutated
copies (every doc_id%5==0 doc re-added with id+1_000_000 and tokens of
length%3==0 dropped) — deterministic in both engines, guaranteeing real
near-duplicate pairs to find. MinHash/SimHash signatures use the
sha256-derived hash60, so their DuckDB oracles replay the full pipelines
(shingle hashes → signatures → band/quarter blocking → verify) and the
driver hash-checks every stage's combined effect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions import text as T
from data_integration_case_study_spark.functions.numeric import davg_sql
from data_integration_case_study_spark.operators import dedup
from data_integration_case_study_spark.sources.readers import read_parquet_table

# --- shared near-dup corpus construction ----------------------------------

def _mutate_spark():
    # tokens with length%3==0 dropped — content-based, engine-portable
    return F.array_join(
        F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) % 3 != 0), " "
    )

_CORPUS_SQL = """
SELECT doc_id, text, lang, source FROM documents
UNION ALL
SELECT doc_id + 1000000,
       array_to_string(list_filter(string_split(text, ' '),
                                   t -> length(t) % 3 <> 0), ' '),
       lang, source
FROM documents WHERE doc_id % 5 = 0
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the documents table is one small parquet file → 1-2 input splits;
    # repartition to the session's parallelism so the CPU-heavy shingle
    # hashing downstream uses every core (at real scale the input already
    # has many splits and this widens rather than shrinks)
    d = read_parquet_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    mutated = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        _mutate_spark().alias("text"),
        "lang",
        "source",
    )
    return d.select("doc_id", "text", "lang", "source").unionByName(mutated)


# --- queries ---------------------------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per document (count + distinct)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    toks = T.tokenize(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


TEXT_TOKEN_STATS_SQL = """
SELECT doc_id, lang,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_tokens,
       len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))) AS n_distinct_tokens
FROM documents
"""


# GPT-2-style pre-tokenizer classes, dialect-portable (explicit character
# classes only — Java regex and RE2 agree on them): letter runs, digit
# runs, punctuation runs. BPE merges letter-runs into subwords; the
# PIECE COUNT of this split is the standard cheap token-budget estimate.
_BPE_PIECE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting, BPE-ish half (SURVEY §2.9 'whitespace + a
    BPE-ish regex'): per document, whitespace tokens vs regex
    pre-tokenizer pieces, and the pieces-per-token ratio a token-budget
    planner multiplies into char counts. Map-only regexp_extract_all —
    codegen'd, no shuffle."""
    d = read_parquet_table(spark, sf_dir, "documents")
    toks = T.tokenize(F.col("text"))
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PIECE_RE), 0)
    n_toks = F.size(toks)
    n_pieces = F.size(pieces)
    return d.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        n_pieces.alias("n_pieces"),
        (
            n_pieces.cast("double")
            / F.nullif(n_toks.cast("double"), F.lit(0.0))
        ).alias("pieces_per_token"),
    )


BPE_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_tokens,
       len(regexp_extract_all(text, '{_BPE_PIECE_RE}')) AS n_pieces,
       CAST(len(regexp_extract_all(text, '{_BPE_PIECE_RE}')) AS DOUBLE)
         / nullif(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS DOUBLE), 0.0)
         AS pieces_per_token
FROM documents
"""


def term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: explode + groupBy (partial-agg combines
    per-partition counts before the single shuffle)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


TERM_FREQUENCY_SQL = """
SELECT t AS token, COUNT(*) AS freq
FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS t FROM documents)
GROUP BY t
"""


def lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (counts, avg chars, total tokens)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("n_chars").cast("double")).alias("avg_chars"),
        F.sum(T.token_count(F.col("text")).cast("long")).alias("total_tokens"),
    )


LANG_SOURCE_STATS_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       {davg_sql('CAST(n_chars AS DOUBLE)')} AS avg_chars,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))) AS BIGINT) AS total_tokens
FROM documents GROUP BY lang
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID vs the lang label."""
    d = read_parquet_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id(F.col("text")).alias("lang_pred"))


def _score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return f"len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ({words})))"


LANG_ID_HEURISTIC_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_score_sql('en')} AS s_en, {_score_sql('fr')} AS s_fr,
         {_score_sql('de')} AS s_de, {_score_sql('es')} AS s_es,
         {_score_sql('zh')} AS s_zh
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN greatest(s_en, s_fr, s_de, s_es, s_zh) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'en'
            WHEN s_fr = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'fr'
            WHEN s_de = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'de'
            WHEN s_es = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'es'
            ELSE 'zh' END AS lang_pred
FROM scored
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score (length/punct/digit/stopword features)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


_ALL_STOP = ", ".join(
    f"'{w}'" for ws in T.STOPWORDS.values() for w in ws
)

QUALITY_SCORES_SQL = f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_tokens,
         (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
           / CAST(nullif(length(text), 0) AS DOUBLE) AS punct_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
           / CAST(nullif(length(text), 0) AS DOUBLE) AS digit_ratio,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ({_ALL_STOP})))
           / CAST(nullif(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')), 0) AS DOUBLE) AS stop_ratio
  FROM documents
)
SELECT doc_id,
       round(CAST(
         (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
       + (CASE WHEN COALESCE(punct_ratio, 0.0) < 0.2 THEN 0.2 ELSE 0.0 END)
       + (CASE WHEN COALESCE(digit_ratio, 0.0) < 0.3 THEN 0.2 ELSE 0.0 END)
       + (CASE WHEN COALESCE(stop_ratio, 0.0) > 0.05 THEN 0.2 ELSE 0.0 END)
         AS DOUBLE), 1) AS quality
FROM f
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha256 content fingerprints over normalized text."""
    d = read_parquet_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""


def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of a corpus containing true duplicates (the %5 copies
    mutate to near-dups; exact dups come from identical normalized text),
    keeping the lowest doc_id."""
    corpus = _corpus(spark, sf_dir).withColumn(
        "text", F.col("text")
    )
    # make the %7 docs EXACT duplicates (unmutated re-adds)
    d = read_parquet_table(spark, sf_dir, "documents")
    exact_copies = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text", "lang", "source"
    )
    corpus = corpus.unionByName(exact_copies)
    return dedup.exact_dedup(corpus, "text", "doc_id").select("doc_id", "lang")


EXACT_DEDUP_DOCUMENTS_SQL = f"""
WITH corpus AS (
  {_CORPUS_SQL}
  UNION ALL
  SELECT doc_id + 2000000, text, lang, source
  FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           ORDER BY doc_id) AS rn
  FROM corpus
) WHERE rn = 1
"""


def ngram_jaccard_neardups(
    spark: SparkSession, sf_dir: str,
    corpus: DataFrame | None = None, tokens_col: str | None = None,
) -> DataFrame:
    """Token-set Jaccard near-dup pairs, blocked by lang, threshold 0.6,
    successor-bounded at ``block_window=512`` (round-7 verdict: `lang`
    is a bounded domain, so the exhaustive in-block join grew as corpus²
    and timed out the sf1 audit). Each doc is compared with its 512
    id-ordered successors inside its lang block — a constant per-doc
    comparison budget, so total cost is linear in the corpus; duplicate
    clusters survive through successor chaining (see
    :func:`operators.dedup.ngram_jaccard_pairs`). The bound is INACTIVE
    at sf0.01 (largest lang block ≈ 107 docs incl. mutated twins), so the
    driver-proof answer
    is unchanged; at sf0.1 (largest block 2462) and beyond it binds, and
    the oracle replays the identical successor-rank definition.

    The verify compares 60-bit TOKEN HASHES (hash60), not token strings
    (r11 optimization, guide §2.3 "narrower types" applied to the
    per-pair verify): the candidate join replays each token array per
    pair, and intersecting fixed-width longs measured ~1.5 s faster at
    sf0.1 than hashing/comparing variable-length strings pair by pair.
    Jaccard over hashed token sets equals Jaccard over token sets up to
    sha256-collisions (~|vocab|²/2^61 — negligible; the same convention
    minhash_candidate_pairs' shingle-hash verify has always used), and
    the DuckDB twin hashes identically, so the pair is oracle-checked
    on the same values.

    ``corpus``/``tokens_col`` let a meta-query (neardup_method_agreement)
    feed one persisted pre-tokenized corpus to all three detectors; the
    parameters stay pinned here so the shared form can never drift from
    the proven catalog query."""
    base = corpus if corpus is not None else _corpus(spark, sf_dir)
    if tokens_col is None:
        base = base.withColumn(
            "__ht", F.transform(T.tokenize(F.col("text")), T.hash60)
        )
        tokens_col = "__ht"
    return dedup.ngram_jaccard_pairs(
        base,
        "doc_id", "text", "lang", threshold=0.6, n=1, tokens_col=tokens_col,
        block_window=512,
    )


NGRAM_JACCARD_NEARDUPS_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
     toks AS (
       SELECT doc_id AS id, lang AS block,
              list_distinct(list_transform(
                list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''),
                t -> ('0x' || substr(sha256(t), 1, 15))::BIGINT)) AS t
       FROM corpus
     ),
     ranked AS (
       SELECT id, block, t,
              row_number() OVER (PARTITION BY block ORDER BY id) AS r
       FROM toks
     ),
     probes AS (
       SELECT id AS id_a, block, unnest(generate_series(r + 1, r + 512)) AS r
       FROM ranked
     ),
     cand AS (
       SELECT p.id_a, s.id AS id_b, p.block
       FROM probes p JOIN ranked s ON s.block = p.block AND s.r = p.r
     )
SELECT c.id_a, c.id_b, c.block,
       round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE), 6) AS jaccard
FROM cand c
JOIN ranked a ON a.id = c.id_a
JOIN ranked b ON b.id = c.id_b
WHERE round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE), 6) >= 0.6
"""


def minhash_lsh_neardups(
    spark: SparkSession, sf_dir: str,
    corpus: DataFrame | None = None, tokens_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs + Jaccard verify. Signatures use the
    sha256-derived hash60, so the oracle replays the ENTIRE pipeline —
    shingle hashes, 32 affine minima, band keys, candidate join, verify —
    and the driver hash-checks it end to end.

    ``corpus``/``tokens_col``: see :func:`ngram_jaccard_neardups`."""
    return dedup.minhash_candidate_pairs(
        corpus if corpus is not None else _corpus(spark, sf_dir),
        "doc_id", "text",
        n=3, num_hashes=32, bands=8, threshold=0.5, tokens_col=tokens_col,
    )


# DuckDB replay of minhash_candidate_pairs(n=3, num_hashes=32, bands=8,
# threshold=0.5): same affine constants, same 60-bit shingle hash.
_MH_P = 2147483647
_MH_MINS = ",\n         ".join(
    f"min(({a} * h + {b}) % {_MH_P}) AS m{i}"
    for i, (a, b) in enumerate(dedup._affine_params(32, dedup.MINHASH_SEED))
)
_MH_BANDS = ", ".join(
    "concat_ws(',', " + ", ".join(f"m{b * 4 + r}" for r in range(4)) + ")"
    for b in range(8)
)

MINHASH_LSH_NEARDUPS_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM corpus
),
shingled AS (
  SELECT id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT id,
         ('0x' || substr(sha256(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT
           % {_MH_P} AS h
  FROM shingled
),
doc AS (
  SELECT id,
         {_MH_MINS},
         array_agg(DISTINCT h) AS shs
  FROM sh GROUP BY id
),
banded AS (
  SELECT id, unnest([0,1,2,3,4,5,6,7]) AS band, unnest([{_MH_BANDS}]) AS bkey
  FROM doc
),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
)
SELECT id_a, id_b, jaccard FROM (
  SELECT c.id_a, c.id_b,
         round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.shs, b.shs))) AS DOUBLE), 6)
           AS jaccard
  FROM cand c JOIN doc a ON c.id_a = a.id JOIN doc b ON c.id_b = b.id
) WHERE jaccard >= 0.5
"""


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUPS from near-dup PAIRS: connected components over the
    MinHash pair graph (iterative min-label propagation with lineage
    checkpointing). Canonical doc per cluster = min id. The oracle walks
    the same closure with a recursive CTE — proving an ITERATIVE
    DataFrame algorithm against declarative SQL."""
    from data_integration_case_study_spark.operators.graph import (
        connected_components,
    )

    return connected_components(minhash_lsh_neardups(spark, sf_dir))


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_NEARDUPS_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id, min(label) AS cluster FROM reach GROUP BY id
"""


def cluster_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup clusters — the audit a dedup
    pipeline reads before acting on its clusters: how many groups of
    each size exist and how many documents they absorb (a fat tail
    here means a boilerplate template or a crawler trap; the keep-one
    policy then deletes size-1 of each). Two tiny aggregations over the
    proven clustering output — cost is the clustering itself."""
    cl = neardup_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").cast("long").alias("n_docs"),
    )


CLUSTER_SIZE_DISTRIBUTION_SQL = f"""
WITH clusters AS ({NEARDUP_CLUSTERS_SQL}),
sizes AS (SELECT cluster, COUNT(*) AS size FROM clusters GROUP BY 1)
SELECT size, COUNT(*) AS n_clusters, CAST(SUM(size) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
"""


def zipf_fit_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus frequency spectrum: OLS slope of
    ln(freq) on ln(rank) over the term-frequency table (natural text
    sits near slope -1; synthetic or templated corpora drift far from
    it — a one-row corpus-health fingerprint). The rank window runs on
    the VOCABULARY grain (the aggregate, never the corpus); ln values
    snap to the 2^-40 grid before exact decimal moment sums, so the
    regression follows the repo's order-independent discipline."""
    tf = term_frequency(spark, sf_dir)
    w = Window.orderBy(F.desc("freq"), "token")
    grid = F.lit(float(1 << 40))
    xy = tf.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * grid + F.lit(0.5))
        .cast("decimal(19,0)")
        .alias("x"),
        F.floor(F.log(F.col("freq").cast("double")) * grid + F.lit(0.5))
        .cast("decimal(19,0)")
        .alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x").cast("double").alias("__sx"),
        F.sum(
            (F.col("x") * F.col("x")).cast("decimal(38,0)")
        ).cast("double").alias("__sxx"),
        F.sum("y").cast("double").alias("__sy"),
        F.sum(
            (F.col("x") * F.col("y")).cast("decimal(38,0)")
        ).cast("double").alias("__sxy"),
    )
    n = F.col("n_terms").cast("double")
    slope = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    intercept = (
        F.col("__sy") - slope * F.col("__sx")
    ) / n / grid
    return m.select(
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("ln_c_intercept"),
    )


ZIPF_FIT_TERMS_SQL = """
WITH tf AS (
  SELECT t AS token, COUNT(*) AS freq
  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS t FROM documents)
  GROUP BY t
),
xy AS (
  SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY freq DESC, token)
                            AS DOUBLE)) * 1099511627776.0 + 0.5)
              AS DECIMAL(19,0)) AS x,
         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1099511627776.0 + 0.5)
              AS DECIMAL(19,0)) AS y
  FROM tf
),
m AS (
  SELECT COUNT(*) AS n_terms,
         CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM xy
)
SELECT n_terms,
       round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n_terms AS DOUBLE) / 1099511627776.0, 6)
         AS ln_c_intercept
FROM m
"""


def simhash_neardups(
    spark: SparkSession, sf_dir: str,
    corpus: DataFrame | None = None, tokens_col: str | None = None,
) -> DataFrame:
    """SimHash near-dup pairs ≤3 bits apart. 60-bit sha256-derived
    fingerprints — the oracle replays votes, bit assembly, quarter
    blocking, and the Hamming filter exactly.

    ``corpus``/``tokens_col``: see :func:`ngram_jaccard_neardups`."""
    return dedup.simhash_near_pairs(
        corpus if corpus is not None else _corpus(spark, sf_dir),
        "doc_id", "text", 3, tokens_col=tokens_col,
    )


_SH_VOTES = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j in range(dedup.SIMHASH_BITS)
)
_SH_FP = "\n       + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
    for j in range(dedup.SIMHASH_BITS)
)
_SH_QMASK = (1 << (dedup.SIMHASH_BITS // 4)) - 1
_SH_QVS = ", ".join(
    f"(fp >> {q * (dedup.SIMHASH_BITS // 4)}) & {_SH_QMASK}" for q in range(4)
)

SIMHASH_NEARDUPS_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT id, tok FROM (
    SELECT doc_id AS id, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM corpus
  ) WHERE tok <> ''
),
hashes AS (
  SELECT id, ('0x' || substr(sha256(tok), 1, 15))::BIGINT AS h FROM toks
),
votes AS (
  SELECT id,
         {_SH_VOTES}
  FROM hashes GROUP BY id
),
fps AS (
  SELECT id,
         {_SH_FP} AS fp
  FROM votes
),
quarters AS (
  SELECT id, fp, unnest([0,1,2,3]) AS q, unnest([{_SH_QVS}]) AS qv
  FROM fps
),
cand AS (
  SELECT DISTINCT x.id AS id_a, x.fp AS h_a, y.id AS id_b, y.fp AS h_b
  FROM quarters x JOIN quarters y ON x.q = y.q AND x.qv = y.qv AND x.id < y.id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming FROM cand
) WHERE hamming <= 3
"""


def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token): term counts joined with document
    frequencies and the corpus size. Three aggregations, all partial+final.
    The df side is the vocabulary — it grows (sub-linearly) with the
    corpus, so no forced broadcast; AQE broadcasts it while it fits and
    falls back to a shuffle join at raw-web-corpus vocabulary sizes."""
    d = read_parquet_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(T.tokenize(F.col("text"))).alias("token"))
    # ONE explode + ONE (doc, token) aggregation; document frequency is
    # then just a count over the tf intermediate (tf already holds one row
    # per distinct (doc, token)) — the naive form re-explodes the corpus
    # and runs a distinct for the df side. Persisted because it feeds both
    # the join's probe side and the df aggregation (tracked:
    # operators.cache.release_tracked() frees it).
    from data_integration_case_study_spark.operators import cache

    tf = cache.track(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a broadcast 1-row frame — no driver-side action at
    # plan-construction time, so the query stays a single lazy DAG
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    return tf.join(df_counts, "token").crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "token",
        "tf",
        "df",
        # round: ln() differs between JVM and C libm in the last ulp
        F.round(
            F.col("tf") * F.log(F.col("__n") / F.col("df")), 6
        ).alias("tf_idf"),
    )


TF_IDF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfc AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
SELECT doc_id, token, tf, df, round(tf * ln(n_docs / df), 6) AS tf_idf
FROM tf JOIN dfc USING (token), n
"""


def set_similarity_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-wide Jaccard >= 0.5 pair join via prefix filtering
    (operators/dedup.jaccard_join_prefix) — the complete-recall
    counterpart of minhash_lsh_neardups over the same mutated corpus:
    no blocking attribute, no banding probability, the quadratic space
    pruned by the prefix-filter theorem. The oracle is DEFINITIONAL
    (shared-shingle join + exact Jaccard, no prefix logic at all), so a
    green row proves the pruning loses nothing."""
    return dedup.jaccard_join_prefix(
        _corpus(spark, sf_dir), "doc_id", "text", threshold=0.5, n=3
    )


# Definitional oracle: every pair sharing >= 1 shingle, exact Jaccard over
# distinct 60-bit shingle hashes (a pair sharing none has J = 0 < t).
# Deliberately ignorant of the prefix filter: agreement proves the
# operator's pruning is lossless, not merely self-consistent.
SET_SIMILARITY_EXACT_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM corpus
),
shingled AS (
  SELECT id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT id,
         ('0x' || substr(sha256(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT AS h
  FROM shingled
),
sz AS (SELECT id, COUNT(*) AS s FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.h = b.h AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(i AS DOUBLE) / CAST(sa.s + sb.s - i AS DOUBLE) AS jaccard
FROM inter
JOIN sz sa ON sa.id = id_a
JOIN sz sb ON sb.id = id_b
WHERE CAST(i AS DOUBLE) / CAST(sa.s + sb.s - i AS DOUBLE) >= 0.5
"""


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ~ K * N^beta — how fast
    the distinct-SHINGLE (word 3-gram) vocabulary grows as the corpus
    is ingested in doc_id order, evaluated at 10 corpus-prefix deciles,
    with the OLS fit of ln V on ln N attached (fresh text keeps beta
    well above 0; templated/duplicated corpora flatten early — shingle
    novelty rate IS the duplication early-warning). Zipf fits the
    STATIC frequency spectrum; Heaps is its GROWTH twin — together the
    two one-row fingerprints a corpus-health monitor tracks per crawl.
    The vocabulary unit is the 3-gram shingle rather than the unigram
    because novelty is what's being monitored (and the synthetic
    corpus's 31-token unigram vocabulary saturates in the first
    document — a degenerate fit on any engine).

    Set-based (no sequential scan): each token's FIRST document is one
    min-aggregation on the vocabulary grain; the prefix grid joins that
    against 10 broadcast thresholds, so "vocabulary after n docs" never
    replays ingestion. The doc-grain cumulative token window is a
    range-partitioned sort of the DOC aggregate (the global_sorted_
    orders cost shape, orders of magnitude below the corpus). ln values
    snap to the 2^-40 grid before exact decimal moments (the zipf
    discipline)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", T.token_count(F.col("text")).alias("n_toks"))
    w = Window.orderBy("doc_id")
    wc = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    pos = docs.withColumn("pos", F.row_number().over(w)).withColumn(
        "cum_toks", F.sum("n_toks").over(wc)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    deciles = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))
    points = (
        pos.crossJoin(F.broadcast(n_docs))
        .join(
            F.broadcast(deciles),
            F.col("pos") == F.floor(F.col("__n") * F.col("decile") / 10),
        )
        .select("decile", F.col("doc_id").alias("thr_doc"), "cum_toks")
    )
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    firsts = (
        spread_to_parallelism(d.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(T.word_ngrams(T.tokenize(F.col("text")), 3)).alias(
                "shingle"
            ),
        )
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vocab = (
        firsts.crossJoin(F.broadcast(points))
        .filter(F.col("first_doc") <= F.col("thr_doc"))
        .groupBy("decile", "cum_toks")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    # xy feeds BOTH the OLS moment agg and the returned rows; persist it
    # (tracked) or the corpus-sized shingle explode upstream runs twice
    from data_integration_case_study_spark.operators import cache

    grid = F.lit(float(1 << 40))
    xy = vocab.select(
        "decile",
        "cum_toks",
        "vocab",
        F.floor(F.log(F.col("cum_toks").cast("double")) * grid + F.lit(0.5))
        .cast("decimal(19,0)")
        .alias("x"),
        F.floor(F.log(F.col("vocab").cast("double")) * grid + F.lit(0.5))
        .cast("decimal(19,0)")
        .alias("y"),
    )
    xy = cache.track(xy)
    m = xy.agg(
        F.count(F.lit(1)).alias("__np"),
        F.sum("x").cast("double").alias("__sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("__sxx"),
        F.sum("y").cast("double").alias("__sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("__sxy"),
    )
    nn = F.col("__np").cast("double")
    slope = (nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    intercept = (F.col("__sy") - slope * F.col("__sx")) / nn / grid
    fit = m.select(
        F.round(slope, 6).alias("heaps_beta"),
        F.round(intercept, 6).alias("ln_k_intercept"),
    )
    return (
        xy.select("decile", "cum_toks", "vocab")
        .crossJoin(F.broadcast(fit))
        .orderBy("decile")
    )


HEAPS_LAW_FIT_SQL = """
WITH docs AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_toks
  FROM documents
),
pos AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) AS pos,
         SUM(n_toks) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_toks
  FROM docs
),
n AS (SELECT COUNT(*) AS n_docs FROM docs),
points AS (
  SELECT d.decile, p.doc_id AS thr_doc, p.cum_toks
  FROM pos p CROSS JOIN n
  JOIN (SELECT unnest(generate_series(1, 10)) AS decile) d
    ON p.pos = CAST(floor(n.n_docs * d.decile / 10) AS BIGINT)
),
firsts AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM (
    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
            FROM documents)
    )
  ) GROUP BY shingle
),
vocab AS (
  SELECT p.decile, p.cum_toks, COUNT(*) AS vocab
  FROM firsts f JOIN points p ON f.first_doc <= p.thr_doc
  GROUP BY 1, 2
),
xy AS (
  SELECT decile, cum_toks, vocab,
         CAST(floor(ln(CAST(cum_toks AS DOUBLE)) * 1099511627776.0 + 0.5)
              AS DECIMAL(19,0)) AS x,
         CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1099511627776.0 + 0.5)
              AS DECIMAL(19,0)) AS y
  FROM vocab
),
m AS (
  SELECT COUNT(*) AS np,
         CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
           AS sxx,
         CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
           AS sxy
  FROM xy
),
fit AS (
  SELECT round((CAST(np AS DOUBLE) * sxy - sx * sy)
               / (CAST(np AS DOUBLE) * sxx - sx * sx), 6) AS heaps_beta,
         round((sy - (CAST(np AS DOUBLE) * sxy - sx * sy)
                     / (CAST(np AS DOUBLE) * sxx - sx * sx) * sx)
               / CAST(np AS DOUBLE) / 1099511627776.0, 6) AS ln_k_intercept
  FROM m
)
SELECT decile, CAST(cum_toks AS BIGINT) AS cum_toks, vocab,
       heaps_beta, ln_k_intercept
FROM xy CROSS JOIN fit
ORDER BY decile
"""


_QT_GRID = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


def quality_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration curve: for every (source, quality threshold)
    on a fixed 0.1..0.9 grid, how many documents survive `quality >= t`
    and what fraction of the source that is — the report a curation
    team reads BEFORE committing to a cutoff (pick the threshold, see
    exactly how much of each source you throw away). Composes the
    proven quality_score feature chain with a broadcast 9-row grid.

    Shape: one map-only scoring pass over the corpus, one explode by
    the constant grid (x9 rows, map-side), one (source, threshold)
    aggregation — fractions divide exact integer counts."""
    d = read_parquet_table(spark, sf_dir, "documents")
    scored = d.select(
        "source", T.quality_score(F.col("text")).alias("q")
    )
    grid = F.array(*[F.lit(t) for t in _QT_GRID])
    return (
        scored.select("source", "q", F.explode(grid).alias("threshold"))
        .groupBy("source", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("q") >= F.col("threshold")).cast("long")).alias(
                "n_retained"
            ),
        )
        .select(
            "source",
            "threshold",
            "n_docs",
            "n_retained",
            (
                F.col("n_retained").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("retention"),
        )
    )


def _quality_threshold_sql() -> str:
    grid = ", ".join(str(t) for t in _QT_GRID)
    return f"""
WITH q AS ({QUALITY_SCORES_SQL}),
s AS (
  SELECT d.source, q.quality AS qv, th.threshold
  FROM q JOIN documents d USING (doc_id)
  CROSS JOIN (SELECT CAST(unnest([{grid}]) AS DOUBLE) AS threshold) th
)
SELECT source, threshold, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN qv >= threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(SUM(CASE WHEN qv >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS retention
FROM s GROUP BY source, threshold
"""


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-CONTAINMENT >= 0.9 pairs
    (operators/dedup.containment_join_prefix) over documents plus a
    derived EXCERPT corpus: every 7th document contributes its first
    40% of tokens as a new doc (id + 2000000). A token-prefix slice
    preserves adjacency, so an excerpt's 3-gram shingles are a strict
    subset of its source's — containment 1.0 by construction — while
    its Jaccard vs the source is far below any dedup threshold: exactly
    the near-SUBSET duplicates (quotes, truncated re-crawls, syndicated
    excerpts) that Jaccard/MinHash pipelines structurally miss. The
    definitional oracle (shared-shingle join + exact containment)
    proves the asymmetric prefix pruning lossless."""
    d = read_parquet_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = T.tokenize(F.col("text"))
    excerpt = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(
                toks,
                F.lit(1),
                F.greatest(
                    F.floor(F.size(toks) * F.lit(0.4)).cast("int"), F.lit(3)
                ),
            ),
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(excerpt)
    return dedup.containment_join_prefix(
        corpus, "doc_id", "text", threshold=0.9, n=3
    )


# Definitional: every directed pair sharing >= 1 shingle, exact
# containment |src ∩ dst| / |src| — no prefix logic, so agreement proves
# the operator's asymmetric pruning loses nothing.
CONTAINMENT_PAIRS_SQL = """
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
corpus AS (
  SELECT doc_id, t FROM base
  UNION ALL
  SELECT doc_id + 2000000,
         t[1:greatest(CAST(floor(len(t) * 0.4) AS INT), 3)]
  FROM base WHERE doc_id % 7 = 0
),
shingled AS (
  SELECT doc_id AS id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  FROM corpus
),
sh AS (
  SELECT DISTINCT id,
         ('0x' || substr(sha256(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT AS h
  FROM shingled
),
sz AS (SELECT id, COUNT(*) AS s FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS src_id, b.id AS dst_id, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.h = b.h AND a.id <> b.id
  GROUP BY 1, 2
)
SELECT src_id, dst_id, i AS n_common,
       CAST(i AS DOUBLE) / CAST(ss.s AS DOUBLE) AS containment
FROM inter
JOIN sz ss ON ss.id = src_id
WHERE CAST(i AS DOUBLE) / CAST(ss.s AS DOUBLE) >= 0.9
"""


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones; k1=1.2, b=0.75) for
    a fixed conjunctive term set over the mutated corpus: top 20 docs by
    summed per-term score — the relevance-ranked search tf_idf stops
    short of (BM25 adds term-frequency saturation and doc-length
    normalization, the two things that matter on real corpora).

    Shape: one token explode -> (doc, term) tf for the query terms only
    (filter BEFORE the agg, so the tf shuffle carries query-term rows,
    not the vocabulary) -> df per term + corpus length stats as a
    broadcast 1-row frame -> per-term scores summed per doc with decimal
    accumulation (dsum) after a round-6 snap (ln() differs from C libm
    in the last ulp — same discipline as tf_idf) -> global top-20 cut
    (a single-partition sort of per-DOC scores, already reduced by the
    agg; at 100 TB this is a few million rows, and rank<=20 pushes a
    TakeOrdered, never a full sort)."""
    from data_integration_case_study_spark.functions.numeric import dsum
    from pyspark.sql import Window

    terms = ["spark", "join", "window"]
    k1, b = 1.2, 0.75
    c = _corpus(spark, sf_dir)
    toks = c.select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = idf * (
        F.col("tf") * F.lit(k1 + 1.0)
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("ts", F.round(term_score, 6))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(dsum(F.col("ts")), 6).alias("score")
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("doc_id", "score", "rank")
    )


BM25_SEARCH_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token
  FROM corpus
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) AS sum_dl
  FROM dl
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM toks WHERE token IN ('spark', 'join', 'window')
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id,
         round(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * (1.2 + 1.0)
              / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sum_dl / n_docs)))),
           6) AS ts
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
),
per_doc AS (
  SELECT doc_id, round(CAST(CAST(SUM(CAST((ts) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE), 6) AS score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM per_doc
) WHERE rank <= 20
"""


# --- positional phrase search -----------------------------------------------

_PHRASES = [("agg join", "agg", "join"), ("table table", "table", "table"),
            ("fast sort", "fast", "sort")]


def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index: tokens
    carry their 1-based positions (the postings a search engine
    persists), and a phrase "w1 w2" matches where w2's posting sits at
    w1's position + 1 — the capability BM25's bag-of-words ranking
    cannot express (term adjacency). Emits per-(phrase, doc) match
    counts and the first hit position.

    Scale shape: the postings frame is filtered to the QUERY VOCABULARY
    before the self-join — only the searched terms' posting lists are
    read/shuffled (the inverted-index access path), never the corpus;
    the adjacency join is an equi-join on (doc, position). Phrase table
    is a literal (broadcast by size)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    post = d.select(
        "doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    ph = spark.createDataFrame(_PHRASES, "phrase string, w1 string, w2 string")
    vocab = sorted({w for _, w1, w2 in _PHRASES for w in (w1, w2)})
    post = post.filter(F.col("token").isin(vocab))
    p1 = post.select(
        "doc_id", F.col("token").alias("w1"), F.col("pos").alias("pos1")
    )
    p2 = post.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("token").alias("w2"),
        F.col("pos").alias("pos2"),
    )
    return (
        ph.join(p1, "w1")
        .join(
            p2,
            (F.col("doc_id_2") == F.col("doc_id"))
            & (F.col("pos2") == F.col("pos1") + 1)
            & (p2["w2"] == ph["w2"]),
        )
        .groupBy("phrase", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("pos1").alias("first_pos"),
        )
    )


PHRASE_SEARCH_POSTINGS_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> t <> '') AS t
  FROM documents
),
post AS (
  SELECT doc_id, i AS pos, t[i] AS token
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
  WHERE t[i] IN ({", ".join(repr(w) for w in sorted({w for _, w1, w2 in _PHRASES for w in (w1, w2)}))})
),
ph AS (
  SELECT * FROM (VALUES {", ".join(f"({p!r}, {w1!r}, {w2!r})" for p, w1, w2 in _PHRASES)})
    v(phrase, w1, w2)
)
SELECT ph.phrase, p1.doc_id,
       COUNT(*) AS n_matches,
       MIN(p1.pos) AS first_pos
FROM ph
JOIN post p1 ON p1.token = ph.w1
JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
            AND p2.token = ph.w2
GROUP BY 1, 2
"""


# --- language-ID confusion matrix ----------------------------------------------


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-argmax language detector
    against the labeled lang column: one row per (actual, predicted)
    cell with the count, the actual-class total, and per-class recall
    — the error-structure view behind lang_id_heuristic's raw
    predictions (WHICH languages bleed into which, not just how often).

    Shape: the prediction pass is the shared lang_id projection
    (map-only); the matrix is one two-key aggregation over a
    languages² grid, recall a window over the actual-class partition."""
    d = read_parquet_table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("actual"),
        T.lang_id(F.col("text")).alias("predicted"),
    )
    cells = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("actual")
    return (
        cells.withColumn("actual_total", F.sum("n").over(w))
        .select(
            "actual",
            "predicted",
            "n",
            "actual_total",
            (F.col("n").cast("double") / F.col("actual_total").cast("double"))
            .alias("frac"),
            (F.col("actual") == F.col("predicted")).alias("is_correct"),
        )
        .orderBy("actual", "predicted")
    )


LANG_CONFUSION_MATRIX_SQL = f"""
WITH pred AS (
  SELECT lang AS actual, lang_pred AS predicted
  FROM ({LANG_ID_HEURISTIC_SQL})
),
cells AS (
  SELECT actual, predicted, COUNT(*) AS n
  FROM pred GROUP BY 1, 2
)
SELECT actual, predicted, n,
       CAST(SUM(n) OVER (PARTITION BY actual) AS BIGINT) AS actual_total,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY actual) AS DOUBLE)
         AS frac,
       actual = predicted AS is_correct
FROM cells
ORDER BY actual, predicted
"""


# --- near-dup detector evaluation ----------------------------------------------


def neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 of a MinHash-LSH near-dup detector against
    the PLANTED ground truth (every doc_id % 5 == 0 has a mutated copy
    at doc_id + 1000000) — detector evaluation as a first-class query,
    so threshold/band tuning reads one dashboard row instead of a
    notebook. The detector here runs at the operating point matched to
    the planted mutation (the token-drop mutation leaves ~0.3 shingle
    Jaccard, so: 16 bands x 2 rows — LSH s-curve midpoint ~0.25 — and
    verify threshold 0.2; the production 8x4 @ 0.5 configuration of
    minhash_lsh_neardups scores ~0 recall on these pairs BY DESIGN,
    which is exactly what this query exists to reveal). "Precision" is
    against planted truth only: a genuine organic near-dup counts as a
    false positive — the conservative reading a curation gate wants.

    Shape: the detector pass is the shared minhash_candidate_pairs
    chain; truth is a map-only projection of the base table; scoring is
    one truth-domain join + a 1-row fold of exact counts with a fixed
    F1 chain."""
    pred = dedup.minhash_candidate_pairs(
        _corpus(spark, sf_dir), "doc_id", "text",
        n=3, num_hashes=32, bands=16, threshold=0.2,
    ).select("id_a", "id_b")
    truth = (
        read_parquet_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1000000).alias("id_b"),
        )
    )
    tp = pred.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("tp")
    )
    np_ = pred.agg(F.count(F.lit(1)).alias("n_pred"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    j = np_.crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(tp))
    prec = F.col("tp").cast("double") / F.col("n_pred").cast("double")
    rec = F.col("tp").cast("double") / F.col("n_truth").cast("double")
    return j.select(
        "n_pred",
        "n_truth",
        "tp",
        prec.alias("precision"),
        rec.alias("recall"),
        F.when(
            (F.col("tp") > 0),
            F.lit(2.0) * prec * rec / (prec + rec),
        )
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )


# 16 bands x 2 rows over the same 32 affine minima as the production
# detector; verify threshold 0.2
_MH_BANDS_16 = ", ".join(
    "concat_ws(',', " + ", ".join(f"m{b * 2 + r}" for r in range(2)) + ")"
    for b in range(16)
)

_PRED_16_SQL = f"""
WITH corpus AS ({{corpus}}),
toks AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM corpus
),
shingled AS (
  SELECT id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT id,
         ('0x' || substr(sha256(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT
           % {_MH_P} AS h
  FROM shingled
),
doc AS (
  SELECT id,
         {_MH_MINS},
         array_agg(DISTINCT h) AS shs
  FROM sh GROUP BY id
),
banded AS (
  SELECT id, unnest(generate_series(0, 15)) AS band,
         unnest([{_MH_BANDS_16}]) AS bkey
  FROM doc
),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
)
SELECT id_a, id_b FROM (
  SELECT c.id_a, c.id_b,
         round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.shs, b.shs))) AS DOUBLE), 6)
           AS jaccard
  FROM cand c JOIN doc a ON c.id_a = a.id JOIN doc b ON c.id_b = b.id
) WHERE jaccard >= 0.2
""".format(corpus=_CORPUS_SQL)

NEARDUP_EVAL_SQL = f"""
WITH pred AS ({_PRED_16_SQL}),
truth AS (
  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
  FROM documents WHERE doc_id % 5 = 0
),
counts AS (
  SELECT (SELECT COUNT(*) FROM pred) AS n_pred,
         (SELECT COUNT(*) FROM truth) AS n_truth,
         (SELECT COUNT(*) FROM pred p
          JOIN truth t ON p.id_a = t.id_a AND p.id_b = t.id_b) AS tp
)
SELECT n_pred, n_truth, tp,
       CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) AS precision,
       CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall,
       CASE WHEN tp > 0 THEN
         2.0 * (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
             * (CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE))
             / ((CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
                + (CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)))
       ELSE 0.0 END AS f1
FROM counts
"""


# --- readability census -------------------------------------------------------


def readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability census per source: corpus-level
    words-per-sentence, vowel-runs-per-word (the classic syllable
    proxy), and the reading-ease estimate from those ratios — the
    audience-complexity profile corpus curation tracks per source
    (a crawl source drifting toward fragmentese shows up as a
    words-per-sentence collapse).

    Shape: entirely map-side per-document integer features (token
    count, sentence-ender count, vowel-run count via one regex
    collapse), then one per-source aggregation of exact integers; the
    Flesch chain runs once per source row. Cross-engine: the vowel-run
    regex is a plain character class (identical semantics in both
    engines; DuckDB gets the explicit 'g' flag), sentence enders count
    via translate-deletion."""
    d = read_parquet_table(spark, sf_dir, "documents")
    words = F.size(T.tokenize(F.col("text")))
    enders = F.length(F.col("text")) - F.length(
        F.translate(F.col("text"), ".!?", "")
    )
    collapsed = F.regexp_replace(F.lower(F.col("text")), "[aeiou]+", "\x01")
    vruns = F.length(collapsed) - F.length(F.translate(collapsed, "\x01", ""))
    per_doc = d.select(
        "source",
        words.alias("w"),
        (enders + 1).alias("s"),
        vruns.alias("v"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("W"),
        F.sum("s").alias("S"),
        F.sum("v").alias("V"),
    )
    wps = F.col("W").cast("double") / F.col("S").cast("double")
    spw = F.col("V").cast("double") / F.col("W").cast("double")
    return agg.select(
        "source",
        "n_docs",
        F.col("W").alias("n_words"),
        F.col("S").alias("n_sentences"),
        wps.alias("words_per_sentence"),
        spw.alias("syllables_per_word"),
        (
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
        ).alias("flesch_ease"),
    ).orderBy("source")


READABILITY_BY_SOURCE_SQL = """
WITH per_doc AS (
  SELECT source,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS w,
         length(text) - length(translate(text, '.!?', '')) + 1 AS s,
         length(regexp_replace(lower(text), '[aeiou]+', chr(1), 'g'))
           - length(translate(regexp_replace(lower(text), '[aeiou]+', chr(1),
                                             'g'), chr(1), '')) AS v
  FROM documents
),
agg AS (
  SELECT source, COUNT(*) AS n_docs, SUM(w) AS W, SUM(s) AS S, SUM(v) AS V
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, CAST(W AS BIGINT) AS n_words,
       CAST(S AS BIGINT) AS n_sentences,
       CAST(W AS DOUBLE) / CAST(S AS DOUBLE) AS words_per_sentence,
       CAST(V AS DOUBLE) / CAST(W AS DOUBLE) AS syllables_per_word,
       206.835 - 1.015 * (CAST(W AS DOUBLE) / CAST(S AS DOUBLE))
               - 84.6 * (CAST(V AS DOUBLE) / CAST(W AS DOUBLE)) AS flesch_ease
FROM agg
ORDER BY source
"""


QUERIES = {
    "text_token_stats": text_token_stats,
    "readability_by_source": readability_by_source,
    "neardup_eval": neardup_eval,
    "lang_confusion_matrix": lang_confusion_matrix,
    "phrase_search_postings": phrase_search_postings,
    "bpe_token_stats": bpe_token_stats,
    "tf_idf": tf_idf,
    "term_frequency": term_frequency,
    "lang_source_stats": lang_source_stats,
    "lang_id_heuristic": lang_id_heuristic,
    "quality_scores": quality_scores,
    "doc_fingerprints": doc_fingerprints,
    "exact_dedup_documents": exact_dedup_documents,
    "ngram_jaccard_neardups": ngram_jaccard_neardups,
    "minhash_lsh_neardups": minhash_lsh_neardups,
    "simhash_neardups": simhash_neardups,
    "neardup_clusters": neardup_clusters,
    "cluster_size_distribution": cluster_size_distribution,
    "zipf_fit_terms": zipf_fit_terms,
    "set_similarity_exact": set_similarity_exact,
    "containment_pairs": containment_pairs,
    "quality_threshold_curve": quality_threshold_curve,
    "heaps_law_fit": heaps_law_fit,
    "bm25_search": bm25_search,
}

ORACLES = {
    "phrase_search_postings": PHRASE_SEARCH_POSTINGS_SQL,
    "text_token_stats": TEXT_TOKEN_STATS_SQL,
    "readability_by_source": READABILITY_BY_SOURCE_SQL,
    "neardup_eval": NEARDUP_EVAL_SQL,
    "lang_confusion_matrix": LANG_CONFUSION_MATRIX_SQL,
    "bpe_token_stats": BPE_TOKEN_STATS_SQL,
    "tf_idf": TF_IDF_SQL,
    "term_frequency": TERM_FREQUENCY_SQL,
    "lang_source_stats": LANG_SOURCE_STATS_SQL,
    "lang_id_heuristic": LANG_ID_HEURISTIC_SQL,
    "quality_scores": QUALITY_SCORES_SQL,
    "doc_fingerprints": DOC_FINGERPRINTS_SQL,
    "exact_dedup_documents": EXACT_DEDUP_DOCUMENTS_SQL,
    "ngram_jaccard_neardups": NGRAM_JACCARD_NEARDUPS_SQL,
    "minhash_lsh_neardups": MINHASH_LSH_NEARDUPS_SQL,
    "simhash_neardups": SIMHASH_NEARDUPS_SQL,
    "neardup_clusters": NEARDUP_CLUSTERS_SQL,
    "cluster_size_distribution": CLUSTER_SIZE_DISTRIBUTION_SQL,
    "zipf_fit_terms": ZIPF_FIT_TERMS_SQL,
    "set_similarity_exact": SET_SIMILARITY_EXACT_SQL,
    "containment_pairs": CONTAINMENT_PAIRS_SQL,
    "quality_threshold_curve": _quality_threshold_sql(),
    "heaps_law_fit": HEAPS_LAW_FIT_SQL,
    "bm25_search": BM25_SEARCH_SQL,
}

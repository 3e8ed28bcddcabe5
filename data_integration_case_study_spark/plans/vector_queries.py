"""Oracle-paired similarity-search + multimodal queries (SURVEY.md §2.9).

The exhaustive cosine paths use exact decimal dot products, so Spark and
DuckDB produce bit-identical doubles (same per-element products, order-
independent accumulation). The LSH paths derive their hyperplanes from
sha256 and snap their sign-dots to the same grid, so bucketing AND
scoring replay exactly in DuckDB; the mapInPandas decode stage
(multimodal_features) emits scalar long form and its fake decoder is
byte arithmetic, so even that stage is hash-checked against an octet-
arithmetic DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions import vector
from data_integration_case_study_spark.functions.numeric import dsum_sql
from data_integration_case_study_spark.multimodal import binary as mm
from data_integration_case_study_spark.operators import similarity
from data_integration_case_study_spark.sources.readers import read_parquet_table

# --- shared constructions --------------------------------------------------


def _as_double_vec(col):
    return F.transform(col, lambda x: x.cast("double"))


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ perturbed copies (vec_id+1000000, first component
    +0.1) — guaranteed high-cosine pairs, identical in both engines."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("embedding"), "label"
    )
    perturbed = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") + F.lit(0.1)),
            F.transform(F.slice("embedding", 2, 10000), lambda x: x.cast("double")),
        ).alias("embedding"),
        "label",
    ).filter(F.col("vec_id") % 3 == 0)
    return base.unionByName(perturbed)


_NEARDUP_CORPUS_SQL = """
SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding, label
FROM embeddings
UNION ALL
SELECT vec_id + 1000000,
       list_concat([CAST(embedding[1] AS DOUBLE) + 0.1],
                   list_transform(embedding[2:], x -> CAST(x AS DOUBLE))),
       label
FROM embeddings WHERE (vec_id + 1000000) % 3 = 0
"""


# --- queries ---------------------------------------------------------------


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors vec_id<5 (self excluded)."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_bruteforce(
        e, e.filter(F.col("vec_id") < 5), k=5
    )


COSINE_TOPK_SQL = """
WITH ex AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(floor(val*val*1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1099511627776.0) AS nrm
  FROM ex GROUP BY vec_id
),
dots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         CAST(SUM(CAST(floor(q.val*c.val*1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1099511627776.0 AS dot
  FROM ex c JOIN ex q ON c.pos = q.pos
  WHERE q.vec_id < 5
  GROUP BY 1, 2
)
SELECT q_id, c_id, dot / (qn.nrm * cn.nrm) AS cosine,
       CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY dot / (qn.nrm * cn.nrm) DESC, c_id) AS INT)
         AS rank
FROM dots
JOIN norms qn ON qn.vec_id = q_id
JOIN norms cn ON cn.vec_id = c_id
WHERE q_id <> c_id
QUALIFY rank <= 5
"""


def embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFY TWIN of ``embedding_neardups_lsh``: cosine ≥ 0.99 pairs
    within attribute (label) blocks over the perturbed corpus,
    successor-bounded at ``block_window=320`` (round-7 verdict: label
    blocks grow linearly with the corpus, so the exhaustive in-block
    join is quadratic and timed out the sf1 audit). Each vector is
    compared with its 320 id-ordered successors inside its block — b·320
    pairs, linear in the corpus. The bound is INACTIVE at both proof SFs
    (largest block: 79 at sf0.01, 296 at sf0.1), so the twin stays the
    EXHAUSTIVE ground truth wherever recall is actually measured, while
    sf1+ runs bounded. Round 8 also re-planned the dot from the exploded
    per-component join to the single O(d) fold (factor-of-d less
    shuffle, bit-identical grid values). Deploy the LSH form."""
    return similarity.embedding_neardup_pairs(
        _neardup_corpus(spark, sf_dir), threshold=0.99, block_window=320,
    )


EMBEDDING_NEARDUPS_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
ranked AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY label ORDER BY vec_id) AS r
  FROM corpus
),
probes AS (
  SELECT vec_id AS id_a, label, unnest(generate_series(r + 1, r + 320)) AS r
  FROM ranked
),
cand AS (
  SELECT p.id_a, s.vec_id AS id_b, p.label AS block
  FROM probes p JOIN ranked s ON s.label = p.label AND s.r = p.r
),
ex AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) AS pos,
         unnest(embedding) AS val
  FROM corpus
),
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(floor(val*val*1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1099511627776.0) AS nrm
  FROM ex GROUP BY vec_id
),
dots AS (
  SELECT c.block, c.id_a, c.id_b,
         CAST(SUM(CAST(floor(a.val*b.val*1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1099511627776.0 AS dot
  FROM cand c
  JOIN ex a ON a.vec_id = c.id_a
  JOIN ex b ON b.vec_id = c.id_b AND b.pos = a.pos
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, block, dot / (na.nrm * nb.nrm) AS cosine
FROM dots
JOIN norms na ON na.vec_id = id_a
JOIN norms nb ON nb.vec_id = id_b
WHERE dot / (na.nrm * nb.nrm) >= 0.99
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH. sha256-derived
    buckets + exact decimal re-rank → the oracle replays bucketing AND
    scoring; recall vs brute force is additionally measured in
    tests/test_similarity.py."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(e, e.filter(F.col("vec_id") < 5), k=5, n_planes=6)


_G = "1099511627776.0"


def _ann_lsh_sql(probe_masks: list[int]) -> str:
    """DuckDB replay of ann_lsh_topk(n_planes=6, k=5, queries=vec_id<5)
    with the given probe-mask set ([0] = single-probe)."""
    masks = ", ".join(str(m) for m in probe_masks)
    return f"""
WITH sig AS ({vector.hyperplane_signature_sql("SELECT vec_id, embedding FROM embeddings", 6)}),
ex AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(floor(val*val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS nrm
  FROM ex GROUP BY vec_id
),
probes AS (
  SELECT vec_id AS q_id, xor(bucket, mask) AS bucket
  FROM sig, (SELECT unnest([{masks}]) AS mask)
  WHERE vec_id < 5
),
cand AS (
  SELECT p.q_id, c.vec_id AS c_id
  FROM probes p JOIN sig c ON c.bucket = p.bucket
  WHERE p.q_id <> c.vec_id
),
dots AS (
  SELECT cand.q_id, cand.c_id,
         (CAST(SUM(CAST(floor(q.val*c.val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS dot
  FROM cand
  JOIN ex q ON q.vec_id = cand.q_id
  JOIN ex c ON c.vec_id = cand.c_id AND c.pos = q.pos
  GROUP BY 1, 2
)
SELECT q_id, c_id, dot / (qn.nrm * cn.nrm) AS cosine,
       CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY dot / (qn.nrm * cn.nrm) DESC, c_id) AS INT) AS rank
FROM dots
JOIN norms qn ON qn.vec_id = q_id
JOIN norms cn ON cn.vec_id = c_id
QUALIFY rank <= 5
"""


ANN_LSH_TOPK_SQL = _ann_lsh_sql([0])
ANN_LSH_MULTIPROBE_SQL = _ann_lsh_sql([0] + [1 << i for i in range(6)])


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant: each query also searches its six 1-bit-flip
    neighbor buckets — the recall lever that scales candidates by
    probes+1 instead of shrinking the plane count (which would square the
    bucket population). Recall ordering vs single-probe is asserted in
    tests/test_similarity.py."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(
        e, e.filter(F.col("vec_id") < 5), k=5, n_planes=6, probe_bits=6
    )


def embedding_neardups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION form of embedding near-dup detection: blocks are LSH
    buckets (~N/2^6 each, corpus-size-independent) instead of the label
    attribute, so in-block work stays bounded at any corpus size.
    ``embedding_neardups`` is this query's exhaustive verify twin.
    The plane count adapts to the corpus size (adaptive_n_planes,
    target bucket 16 — 6 planes at sf0.01's 666-vector perturbed
    corpus), replayed by the oracle with the same integer formula.
    Oracle-checked like everything else."""
    return similarity.embedding_neardup_pairs_lsh(
        _neardup_corpus(spark, sf_dir), threshold=0.99
    )


_NEARDUP_PLANES_SQL = vector.adaptive_n_planes_sql(
    "SELECT vec_id FROM corpus", target_bucket=16
)

EMBEDDING_NEARDUPS_LSH_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
sig AS ({vector.hyperplane_signature_sql("SELECT vec_id, embedding FROM corpus", _NEARDUP_PLANES_SQL)}),
ex AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         unnest(embedding) AS val
  FROM corpus
),
exb AS (SELECT e.vec_id, s.bucket, e.pos, e.val FROM ex e JOIN sig s USING (vec_id)),
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(floor(val*val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS nrm
  FROM ex GROUP BY vec_id
),
dots AS (
  SELECT a.bucket AS block, a.vec_id AS id_a, b.vec_id AS id_b,
         (CAST(SUM(CAST(floor(a.val*b.val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS dot
  FROM exb a JOIN exb b ON a.pos = b.pos AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, block, cosine FROM (
  SELECT id_a, id_b, block, dot / (na.nrm * nb.nrm) AS cosine
  FROM dots
  JOIN norms na ON na.vec_id = id_a
  JOIN norms nb ON nb.vec_id = id_b
) WHERE cosine >= 0.99
"""


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: the dedup DECISION, not
    just the pair list. LSH-bucketed cosine pairs (≥ 0.99 over the
    perturbed corpus) feed connected components; each cluster keeps its
    minimum vec_id as the representative and drops the rest. Output is
    one row per clustered vector: (vec_id, rep_id, kept) — the drop set
    is ``kept = false`` (singletons never appear: they are implicitly
    kept and emitting them would be a full-corpus passthrough).

    Scale shape: pairs come from the bounded-bucket LSH form
    (~N/2^planes per block), clustering is the iterative min-label
    propagation of ``operators.graph`` (O(component diameter) rounds,
    lineage-checkpointed) — both already proven; this composes them into
    the end-to-end operator an embedding-dedup pipeline actually runs."""
    from data_integration_case_study_spark.operators.graph import (
        connected_components,
    )

    pairs = similarity.embedding_neardup_pairs_lsh(
        _neardup_corpus(spark, sf_dir), threshold=0.99
    )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    return comps.select(
        F.col("id").alias("vec_id"),
        F.col("cluster").alias("rep_id"),
        (F.col("id") == F.col("cluster")).alias("kept"),
    )


SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE pairs AS ({EMBEDDING_NEARDUPS_LSH_SQL}),
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
SELECT id AS vec_id, min(label) AS rep_id, (id = min(label)) AS kept
FROM reach GROUP BY id
"""


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct (flattened for the oracle)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    p = mm.attach_payload(d)
    return p.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.digest").alias("digest"),
        F.col("meta.mime").alias("mime"),
    )


MULTIMODAL_METADATA_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS digest,
       'text/plain' AS mime
FROM documents
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling grid over payloads (1 row per 64-byte offset)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    frames = mm.frame_sample(mm.attach_payload(d), every_n_bytes=64)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
    )


MULTIMODAL_FRAME_SAMPLE_SQL = """
SELECT doc_id, o // 64 AS frame_idx, o AS byte_offset FROM (
  SELECT doc_id,
         unnest(generate_series(0, greatest(octet_length(encode(text)) - 1, 0), 64)) AS o
  FROM documents
)
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode with the deterministic fake
    decoder, posexploded to scalar long form (doc_id, n_bytes, pos, val,
    decoder) so the result is driver-canonicalizable and hash-checkable.

    The fake decoder is pure byte arithmetic (payload[pos % len]/255 +
    pos*0.001 over the utf-8 payload), so the DuckDB twin replays it with
    octet arithmetic — every op is a correctly-rounded IEEE double op in
    both engines, so values hash-match bitwise. The mapInPandas plumbing
    (schema contract, Arrow batching, partition parallelism) is still the
    thing under test; only the OUTPUT SHAPE changed from the array form.
    """
    d = read_parquet_table(spark, sf_dir, "documents")
    feats = mm.extract_features(mm.attach_payload(d))
    return feats.select(
        "doc_id",
        "n_bytes",
        F.posexplode("features").alias("pos", "val"),
        "decoder",
    ).select(
        "doc_id", "n_bytes", F.col("pos").cast("long").alias("pos"), "val", "decoder"
    )


# fake_decoder(payload)[pos] == payload[pos % len]/255.0 + pos*0.001.
# The documents corpus is non-empty pure ASCII (pinned by
# tests/test_corpus_invariants.py at every SF), so the utf-8
# byte at pos equals ascii(text[pos+1]); 255/0.001 literals are cast to
# DOUBLE explicitly (DuckDB numeric literals are DECIMAL by default) and
# the op order matches the Python expression exactly: (b/255) + (pos*1e-3).
MULTIMODAL_FEATURES_SQL = """
WITH ex AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         text,
         unnest(generate_series(0, 7)) AS pos
  FROM documents
)
SELECT doc_id,
       n_bytes,
       CAST(pos AS BIGINT) AS pos,
       CAST(ascii(text[CAST(pos % n_bytes AS BIGINT) + 1]) AS DOUBLE)
         / CAST(255 AS DOUBLE)
         + CAST(pos AS DOUBLE) * CAST(0.001 AS DOUBLE) AS val,
       'fake_decoder' AS decoder
FROM ex
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor payload resize (multimodal/binary.resize_payload)
    posexploded to scalar long form (doc_id, n_bytes, idx, byte_val).
    The sampling grid is pure byte arithmetic, so the DuckDB twin replays
    it with octet indexing — the mapInPandas resize boundary is
    hash-checked like the feature decode."""
    d = read_parquet_table(spark, sf_dir, "documents")
    r = mm.resize_payload(mm.attach_payload(d))
    return r.select(
        "doc_id",
        "n_bytes",
        F.posexplode("resized").alias("idx", "byte_val"),
    ).select("doc_id", "n_bytes", F.col("idx").cast("long").alias("idx"), "byte_val")


# resize_payload grid: resized[i] == payload[(i * n_bytes) // 16]. The
# corpus is non-empty pure ASCII (tests/test_corpus_invariants.py), so
# byte k == ascii(text[k+1]); // is floor division of BIGINTs in both.
MULTIMODAL_RESIZE_SQL = """
WITH ex AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         text,
         unnest(generate_series(0, 15)) AS idx
  FROM documents
)
SELECT doc_id,
       n_bytes,
       CAST(idx AS BIGINT) AS idx,
       CAST(ascii(text[CAST((idx * n_bytes) // 16 AS BIGINT) + 1]) AS INT)
         AS byte_val
FROM ex
"""


def multimodal_ahash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate detection over OPAQUE media payloads —
    the average-hash (aHash) pipeline an image-dedup stage runs, on the
    engine's multimodal plumbing: resize every payload to a fixed
    64-cell grid (multimodal/binary.resize_payload, the mapInPandas
    codec boundary), threshold each cell against the grid mean to a
    64-bit fingerprint, block by 16-bit bands (pigeonhole: Hamming <= 3
    pairs share at least one of 4 bands), and verify candidates with
    exact popcount Hamming distance.

    Determinism: the threshold compares ``cell*64 > sum(cells)`` — pure
    integer arithmetic, no mean division; band values are explicit
    bit-weighted integer sums; Hamming is bit_count over XOR. The
    DuckDB twin replays the whole pipeline from the payload bytes.

    Scale shape: fingerprints are 4 ints/payload (payload bytes never
    join); candidates come from 4 equi-joins on (band, value); exact
    verification touches only candidate pairs — the SimHash discipline
    applied to media.

    The corpus is the documents table plus planted near-duplicates
    (doc_id+1000000 for doc_id%5==0, LAST byte swapped — same length, so
    the resize grid differs in at most one cell and the planted pair
    lands within the Hamming budget; threshold flips near the mean can
    add a couple more bits)."""
    d = read_parquet_table(spark, sf_dir, "documents")
    mutated = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, F.length("text") - 1), F.lit("X")
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(mutated)
    grid = mm.resize_payload(mm.attach_payload(corpus), out_len=64)
    # Fingerprint in ONE map-only pass over the resized grid (round 9,
    # the worst sf10 absolute at 174s): the previous posexplode form
    # evaluated the mapInPandas resize TWICE (once for the grid total,
    # once for the explode that joined it back) and shuffled 64 rows per
    # payload through two aggregations before the cache. Array folds
    # compute the total and all four 16-bit band words per row —
    # identical integer arithmetic (cell*64 > sum threshold, bit-weighted
    # band sums), zero shuffles, one resize pass; only the slim 4-row
    # (doc_id, band, band_val, fp) frame ever leaves the projection.
    tot = F.aggregate(
        "resized",
        F.lit(0).cast("long"),
        lambda a, x: a + x.cast("long"),
    )
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(16)])

    def band_word(b: int):
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("resized"), b * 16 + 1, 16),
                pow2,
                lambda x, p: F.when(
                    x.cast("long") * 64 > F.col("__tot"), p
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    # The full 64-bit fingerprint rides along on every band row so the
    # Hamming verify happens INLINE in the band join (round 9): the
    # low-entropy text-grid band words collide heavily at scale (392M
    # candidate pairs at sf10), and the previous
    # distinct-then-rejoin-both-sides shape shuffled that candidate set
    # three times (~168s of the 174s sf10 wall). Inline, a colliding
    # pair costs one XOR+popcount inside the join task and dies there;
    # only true near-dups (answer-sized) reach the distinct. Answer
    # identical: sum of per-band Hamming over all 4 bands == popcount of
    # the full-fingerprint XOR.
    bands = (
        grid.select("doc_id", tot.alias("__tot"), "resized")
        .select(
            "doc_id",
            F.array(*[band_word(b) for b in range(4)]).alias("__bv"),
        )
        .select(
            "doc_id",
            F.posexplode("__bv").alias("band", "band_val"),
            sum(
                (
                    F.shiftleft(F.element_at("__bv", b + 1), 16 * b)
                    for b in range(1, 4)
                ),
                start=F.element_at("__bv", 1),
            ).alias("fp"),
        )
    )
    from data_integration_case_study_spark.operators import cache

    bands = cache.track(bands)
    return _banded_hamming_pairs(bands)


def _banded_hamming_pairs(bands: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Shared verify of the perceptual-hash band join (aHash + pHash):
    self-join the (doc_id, band, band_val, fp) frame on its band key and
    verify INLINE — a colliding pair costs one XOR+popcount inside the
    join task and dies there; only answer-sized survivors reach the
    distinct. The EXPLICIT repartition on the join key is load-bearing:
    the band frame is slim (~40 MB at sf10), so AQE coalesces its
    shuffle to ~1 partition and the multi-hundred-million-pair bucket
    fan-out would run as one task (the same coalesce-fan-out failure
    mode the round-8 ngram fix documents); pinning the partition count
    spreads the buckets (bounded: band words are 16-bit, so the key
    domain is <= 4*65536 at any corpus size, and the measured max
    bucket is ~3k rows)."""
    nparts = bands.sparkSession.sparkContext.defaultParallelism
    keyed = bands.repartition(nparts * 2, F.col("band"), F.col("band_val"))
    return (
        keyed.alias("x")
        .join(keyed.alias("y"), ["band", "band_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.bit_count(
                F.col("x.fp").bitwiseXOR(F.col("y.fp"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


MULTIMODAL_AHASH_NEARDUPS_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substr(text, 1, length(text) - 1) || 'X'
  FROM documents WHERE doc_id % 5 = 0
),
ex AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         text,
         unnest(generate_series(0, 63)) AS idx
  FROM corpus
),
cells AS (
  SELECT doc_id, idx,
         CAST(ascii(text[CAST((idx * n_bytes) // 64 AS BIGINT) + 1]) AS BIGINT)
           AS b
  FROM ex
),
tot AS (SELECT doc_id, SUM(b) AS tot FROM cells GROUP BY 1),
bands AS (
  SELECT c.doc_id,
         CAST(idx // 16 AS INT) AS band,
         SUM(CASE WHEN c.b * 64 > t.tot THEN CAST(1 AS BIGINT) << CAST(idx % 16 AS INT)
                  ELSE 0 END) AS band_val
  FROM cells c JOIN tot t ON t.doc_id = c.doc_id
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         SUM(bit_count(xor(a.band_val, b.band_val))) AS hamming
  FROM cand c
  JOIN bands a ON a.doc_id = c.id_a
  JOIN bands b ON b.doc_id = c.id_b AND b.band = a.band
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= 3
"""


# DCT-II basis, scaled by 1024 and rounded to integers (C[u][x] =
# round(1024*cos(pi*(2x+1)u/16))); every entry is >0.07 away from a
# rounding boundary, so the literal table is platform-independent.
_DCT8 = [
    [1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024],
    [1004, 851, 569, 200, -200, -569, -851, -1004],
    [946, 392, -392, -946, -946, -392, 392, 946],
    [851, -200, -1004, -569, 569, 1004, 200, -851],
    [724, -724, -724, 724, 724, -724, -724, 724],
    [569, -1004, 200, 851, -851, -200, 1004, -569],
    [392, -946, 946, -392, -392, 946, -946, 392],
    [200, -569, 851, -1004, 1004, -851, 569, -200],
]


def phash_signatures(corpus: DataFrame) -> DataFrame:
    """(doc_id, bv0..bv3): the 63-bit pHash fingerprint of each payload
    as four band values — the whole 8x8 integer DCT (two matrix passes
    over the resized grid) and the 63*t > sum(AC) thresholding as
    map-only column expressions; no explode, no join, no shuffle.

    The ~130 generated expressions are built as SQL TEXT (one
    ``selectExpr`` parse inside the JVM per stage), not as Python
    ``Column`` arithmetic: composing them operator-by-operator through
    py4j cost ~4.8 s of driver time PER CALL (r11 profile: ~2,000
    py4j round-trips for the two matrix passes alone) before a single
    task ran. The parsed trees are the identical arithmetic — left-
    associated integer sums of ``element_at``/column terms — so the
    plan, codegen, and values are unchanged; only the construction path
    moved into the JVM."""
    from data_integration_case_study_spark.operators import cache

    grid = mm.resize_payload(mm.attach_payload(corpus), out_len=64)

    def cell(x: int, y: int) -> str:
        # row-major 8x8 luma grid; element_at is 1-based
        return f"element_at(resized, {8 * x + y + 1})"

    # pass 1: R[u][y] = sum_x C[u][x] * L[x][y]  (|R| <= 8*1024*255)
    r_cols = [
        "CAST("
        + " + ".join(f"({_DCT8[u][x]}) * {cell(x, y)}" for x in range(8))
        + f" AS BIGINT) AS r{u}_{y}"
        for u in range(8)
        for y in range(8)
    ]
    # cache barriers between the matrix passes: CollapseProject would
    # otherwise inline pass 1 into pass 2 and the AC sum into all 63
    # threshold terms — a single ~30k-term projection whose generated
    # Java exceeds the JVM's 64 KB method limit, silently dropping the
    # whole map to interpreted mode (observed: 2x wall time). Three
    # tiny cached frames (<= 65 longs/doc) keep each stage inside
    # whole-stage codegen.
    stage1 = cache.track(grid.selectExpr("doc_id", *r_cols))
    # pass 2: T[u][v] = sum_y C[v][y] * R[u][y]  (|T| <= 8*1024*2.1e6)
    t_cols = [
        " + ".join(f"({_DCT8[v][y]}) * r{u}_{y}" for y in range(8))
        + f" AS t{8 * u + v}"
        for u in range(8)
        for v in range(8)
        if not (u == 0 and v == 0)
    ]
    stage2 = cache.track(stage1.selectExpr("doc_id", *t_cols))
    ac = [f"t{i}" for i in range(1, 64)]
    bits = cache.track(
        stage2.selectExpr("doc_id", " + ".join(ac) + " AS s", *ac)
    )
    band_cols = []
    for band in range(4):
        lo = 1 + 16 * band
        hi = min(lo + 16, 64)
        band_cols.append(
            " + ".join(
                f"(CASE WHEN 63 * t{i} > s THEN CAST({1 << (i - lo)} AS"
                " BIGINT) ELSE CAST(0 AS BIGINT) END)"
                for i in range(lo, hi)
            )
            + f" AS bv{band}"
        )
    return bits.selectExpr("doc_id", *band_cols)


def multimodal_phash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual DCT-hash (pHash) near-duplicate detection over opaque
    media payloads — the frequency-domain upgrade of
    :func:`multimodal_ahash_neardups`: aHash thresholds raw cells (so a
    brightness ramp flips half the bits), pHash thresholds the 63 AC
    coefficients of an 8x8 2-D DCT, which is what survives global
    brightness/contrast shifts in real image dedup.

    Determinism: the DCT basis is the scaled-integer literal table
    ``_DCT8`` (exact in both engines); the transform is two integer
    matrix passes R = C*L, T = R*C^T computed ENTIRELY as map-only
    column expressions over the resized array — no explode, no join, no
    shuffle until the band equi-join. Bits compare 63*t > sum(AC) in
    exact integers (no mean division); banding/verify is the aHash
    machinery (4 bands of 16/16/16/15 bits; pigeonhole: Hamming <= 3
    shares a band; exact popcount verify on candidates).

    Scale shape: signature computation is one whole-stage-codegen map
    over payload-resident partitions (fingerprints are 4 longs/payload;
    payload bytes never cross a shuffle); candidates come from 4
    equi-joins on (band, value); verification touches candidate pairs
    only. Same planted mutated-copy corpus as aHash."""
    d = read_parquet_table(spark, sf_dir, "documents")
    mutated = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, F.length("text") - 1), F.lit("X")
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(mutated)
    sig = phash_signatures(corpus)
    from data_integration_case_study_spark.operators import cache

    # same inline-verify discipline as aHash (round 9): the 63 signature
    # bits ride along as one long so Hamming is a single XOR+popcount in
    # the band join, and the shared helper pins the join partitioning
    # against the AQE coalesce fan-out (sf10 measured 213.7s with the
    # distinct-then-rejoin shape).
    fp = (
        F.col("bv0")
        + F.shiftleft(F.col("bv1"), 16)
        + F.shiftleft(F.col("bv2"), 32)
        + F.shiftleft(F.col("bv3"), 48)
    )
    bands = cache.track(
        sig.withColumn("fp", fp).selectExpr(
            "doc_id",
            "stack(4, 0, bv0, 1, bv1, 2, bv2, 3, bv3) AS (band, band_val)",
            "fp",
        )
    )
    return _banded_hamming_pairs(bands)


def _phash_sql() -> str:
    def cell(x, y):
        k = 8 * x + y
        return (
            f"CAST(ascii(text[CAST(({k} * n_bytes) // 64 AS BIGINT) + 1])"
            f" AS BIGINT)"
        )

    r_exprs = ", ".join(
        " + ".join(f"({_DCT8[u][x]}) * {cell(x, y)}" for x in range(8))
        + f" AS r{u}_{y}"
        for u in range(8)
        for y in range(8)
    )
    t_exprs = ", ".join(
        " + ".join(f"({_DCT8[v][y]}) * r{u}_{y}" for y in range(8))
        + f" AS t{8 * u + v}"
        for u in range(8)
        for v in range(8)
        if not (u == 0 and v == 0)
    )
    s_expr = " + ".join(f"t{i}" for i in range(1, 64))
    band_rows = []
    for band in range(4):
        lo = 1 + 16 * band
        hi = min(lo + 16, 64)
        val = " + ".join(
            f"CASE WHEN 63 * t{i} > s THEN CAST({1 << (i - lo)} AS BIGINT)"
            f" ELSE 0 END"
            for i in range(lo, hi)
        )
        band_rows.append(f"SELECT doc_id, {band} AS band, {val} AS band_val FROM bits")
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substr(text, 1, length(text) - 1) || 'X'
  FROM documents WHERE doc_id % 5 = 0
),
ex AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes, text FROM corpus
),
r AS (
  SELECT doc_id, {r_exprs} FROM ex
),
t AS (
  SELECT doc_id, {t_exprs} FROM r
),
bits AS (
  SELECT *, {s_expr} AS s FROM t
),
bands AS (
  {" UNION ALL ".join(band_rows)}
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         SUM(bit_count(xor(a.band_val, b.band_val))) AS hamming
  FROM cand c
  JOIN bands a ON a.doc_id = c.id_a
  JOIN bands b ON b.doc_id = c.id_b AND b.band = a.band
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= 3
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in long form (label, pos, centroid) —
    the training step of IVF-style partitioned ANN. Decimal-exact means,
    so both engines agree bitwise."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    # exact accumulation trick for float32 inputs: val * 2^48 is an
    # INTEGRAL double for any |val| ≥ 2^-25 (float32 mantissas are 24
    # bits), so the decimal cast is exact in every engine, and the scaled
    # products stay below 2^53 — above that Spark's double→decimal goes
    # through Java's shortest-string repr and silently diverges from the
    # exact binary value (DuckDB uses the exact value). A fractional
    # decimal scale (DECIMAL(38,12)) is not portable either — the engines
    # round sub-scale bits differently.
    scale = float(1 << 48)
    return ex.groupBy("label", "pos").agg(
        (
            (F.sum((F.col("val") * F.lit(scale)).cast("decimal(38,0)")).cast("double")
             / F.lit(scale))
            / F.count("val")
        ).alias("centroid")
    )


LABEL_CENTROIDS_SQL = """
WITH ex AS (
  SELECT label,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
SELECT label, pos,
       (CAST(CAST(SUM(CAST(val * 281474976710656.0 AS DECIMAL(38,0)))
             AS VARCHAR) AS DOUBLE)
        / 281474976710656.0) / COUNT(val) AS centroid
FROM ex GROUP BY label, pos
"""


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 2 rounds, seeded init) over the embeddings
    table — the IVF training step. Deterministic end to end, so the
    2-round unrolled SQL twin reproduces it bit-for-bit."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_centroids(e, k=8, n_iter=2)


_KM_SCALE = "281474976710656.0"  # 2^48: float32 vals scale to integral doubles

# 2 Lloyd rounds unrolled: cN = centroids entering round N+1, aN = that
# round's argmax assignment. Same grid-exact dots, VARCHAR-routed decimal
# mean (the 2^53 cast hazard), ties to lowest cell.
KMEANS_CENTROIDS_SQL = f"""
WITH ex AS (
  SELECT vec_id AS id,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
c0 AS (SELECT id AS cell, pos, val AS c_val FROM ex WHERE id < 8),
n0 AS (
  SELECT cell, sqrt(CAST(SUM(CAST(floor(c_val*c_val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS cell_norm
  FROM c0 GROUP BY cell
),
s0 AS (
  SELECT ex.id, c0.cell,
         (CAST(SUM(CAST(floor(ex.val*c0.c_val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS dot
  FROM ex JOIN c0 ON ex.pos = c0.pos GROUP BY 1, 2
),
a0 AS (
  SELECT id, cell FROM s0 JOIN n0 USING (cell)
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dot / cell_norm DESC, cell) = 1
),
c1 AS (
  SELECT a0.cell, ex.pos,
         (CAST(CAST(SUM(CAST(ex.val * {_KM_SCALE} AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
          / {_KM_SCALE}) / COUNT(ex.val) AS c_val
  FROM ex JOIN a0 USING (id) GROUP BY 1, 2
),
n1 AS (
  SELECT cell, sqrt(CAST(SUM(CAST(floor(c_val*c_val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS cell_norm
  FROM c1 GROUP BY cell
),
s1 AS (
  SELECT ex.id, c1.cell,
         (CAST(SUM(CAST(floor(ex.val*c1.c_val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS dot
  FROM ex JOIN c1 ON ex.pos = c1.pos GROUP BY 1, 2
),
a1 AS (
  SELECT id, cell FROM s1 JOIN n1 USING (cell)
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dot / cell_norm DESC, cell) = 1
),
c2 AS (
  SELECT a1.cell, ex.pos,
         (CAST(CAST(SUM(CAST(ex.val * {_KM_SCALE} AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
          / {_KM_SCALE}) / COUNT(ex.val) AS c_val
  FROM ex JOIN a1 USING (id) GROUP BY 1, 2
),
m AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS members FROM a1 GROUP BY cell)
SELECT c2.cell, CAST(c2.pos AS INT) AS pos, c2.c_val AS val, m.members
FROM c2 JOIN m USING (cell)
"""


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic seed centroids → cell assignment → 2-probe
    exact search. Fully oracle-checkable (no hashing), unlike the LSH path.
    Seed centroids are the oracle twin of the trained path — see
    ``kmeans_centroids`` and ``similarity.ivf_topk(centroids=...)``."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        e, e.filter(F.col("vec_id") < 5), k=5, n_cells=8, nprobe=2
    )


# DuckDB twin: same grid-exact dots; cells = vec_id<8, queries = vec_id<5.
IVF_TOPK_SQL = f"""
WITH ex AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(floor(val*val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS nrm
  FROM ex GROUP BY vec_id
),
cent AS (SELECT vec_id AS cell, pos, val AS c_val FROM ex WHERE vec_id < 8),
cent_norms AS (SELECT cell AS cn_cell, nrm AS cell_norm FROM norms WHERE vec_id < 8),
assign_scores AS (
  SELECT ex.vec_id, cent.cell,
         (CAST(SUM(CAST(floor(ex.val*cent.c_val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS dot
  FROM ex JOIN cent ON ex.pos = cent.pos
  GROUP BY 1, 2
),
ranked_cells AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dot / cell_norm DESC, cell) AS cr
  FROM assign_scores JOIN cent_norms ON cell = cn_cell
),
corp_cells AS (SELECT vec_id AS c_id, cell FROM ranked_cells WHERE cr <= 1),
qry_cells AS (SELECT vec_id AS q_id, cell FROM ranked_cells WHERE cr <= 2 AND vec_id < 5),
cand AS (
  SELECT DISTINCT q_id, c_id
  FROM qry_cells JOIN corp_cells USING (cell)
  WHERE q_id <> c_id
),
dots AS (
  SELECT cand.q_id, cand.c_id,
         (CAST(SUM(CAST(floor(q.val*c.val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS dot
  FROM cand
  JOIN ex q ON q.vec_id = cand.q_id
  JOIN ex c ON c.vec_id = cand.c_id AND c.pos = q.pos
  GROUP BY 1, 2
)
SELECT q_id, c_id, dot / (qn.nrm * cn2.nrm) AS cosine,
       CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY dot / (qn.nrm * cn2.nrm) DESC, c_id) AS INT) AS rank
FROM dots
JOIN norms qn ON qn.vec_id = q_id
JOIN norms cn2 ON cn2.vec_id = c_id
QUALIFY rank <= 5
"""


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5: 8 subspaces × 8 seed codewords,
    queries vec_id<5. The memory-bound ANN form — search reads only the
    per-vector code matrix, never the raw floats."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        e, e.filter(F.col("vec_id") < 5), k=5, sub_dim=8, n_codes=8
    )


# DuckDB twin: 1-based positions, so subspace = floor((pos-1)/8); codebooks
# seeded from vec_id<8, grid-exact encoding and ADC sums as in the operator.
PQ_TOPK_SQL = f"""
WITH ex AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
sub AS (
  SELECT vec_id, pos, CAST(floor((pos - 1) / 8) AS BIGINT) AS s, val FROM ex
),
cb AS (SELECT vec_id AS j, pos, val AS c_val FROM ex WHERE vec_id < 8),
enc AS (
  SELECT x.vec_id AS c_id, x.s, cb.j,
         CAST(SUM(CAST(floor((x.val - cb.c_val) * (x.val - cb.c_val) * {_G} + 0.5)
                       AS DECIMAL(38,0))) AS DOUBLE) / {_G} AS dist
  FROM sub x JOIN cb ON x.pos = cb.pos
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT c_id, s, j FROM enc
  QUALIFY row_number() OVER (PARTITION BY c_id, s ORDER BY dist, j) = 1
),
qtab AS (
  SELECT q.vec_id AS q_id, q.s, cb.j,
         CAST(SUM(CAST(floor(q.val * cb.c_val * {_G} + 0.5)
                       AS DECIMAL(38,0))) AS DOUBLE) / {_G} AS pdot
  FROM sub q JOIN cb ON q.pos = cb.pos
  WHERE q.vec_id < 5
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT q_id, c_id,
         CAST(SUM(CAST(pdot * {_G} AS DECIMAL(38,0))) AS DOUBLE) / {_G} AS approx_dot
  FROM codes JOIN qtab USING (s, j)
  WHERE q_id <> c_id
  GROUP BY 1, 2
)
SELECT q_id, c_id, approx_dot,
       CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY approx_dot DESC, c_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
"""


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composed ANN (the billion-vector serving shape): 8 seed
    cells / 2-probe candidate pruning, ADC scoring over 8×8 seed
    codebooks — candidates come from the IVF half, scores from the PQ
    half, raw floats touched by neither."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        e, e.filter(F.col("vec_id") < 5), k=5, n_cells=8, nprobe=2,
        sub_dim=8, n_codes=8,
    )


# DuckDB twin: the IVF oracle's candidate CTEs feeding the PQ oracle's
# ADC scoring CTEs — same seeds, same grid arithmetic.
IVF_PQ_TOPK_SQL = f"""
WITH ex AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
cent AS (SELECT vec_id AS cell, pos, val AS c_val FROM ex WHERE vec_id < 8),
cent_norms AS (
  SELECT cell AS cn_cell,
         sqrt(CAST(SUM(CAST(floor(c_val*c_val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS cell_norm
  FROM cent GROUP BY cell
),
assign_scores AS (
  SELECT ex.vec_id, cent.cell,
         (CAST(SUM(CAST(floor(ex.val*cent.c_val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS dot
  FROM ex JOIN cent ON ex.pos = cent.pos
  GROUP BY 1, 2
),
ranked_cells AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dot / cell_norm DESC, cell) AS cr
  FROM assign_scores JOIN cent_norms ON cell = cn_cell
),
corp_cells AS (SELECT vec_id AS c_id, cell FROM ranked_cells WHERE cr <= 1),
qry_cells AS (SELECT vec_id AS q_id, cell FROM ranked_cells WHERE cr <= 2 AND vec_id < 5),
cand AS (
  SELECT DISTINCT q_id, c_id
  FROM qry_cells JOIN corp_cells USING (cell)
  WHERE q_id <> c_id
),
sub AS (
  SELECT vec_id, pos, CAST(floor((pos - 1) / 8) AS BIGINT) AS s, val FROM ex
),
cb AS (SELECT vec_id AS j, pos, val AS c_val FROM ex WHERE vec_id < 8),
enc AS (
  SELECT x.vec_id AS c_id, x.s, cb.j,
         CAST(SUM(CAST(floor((x.val - cb.c_val) * (x.val - cb.c_val) * {_G} + 0.5)
                       AS DECIMAL(38,0))) AS DOUBLE) / {_G} AS dist
  FROM sub x JOIN cb ON x.pos = cb.pos
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT c_id, s, j FROM enc
  QUALIFY row_number() OVER (PARTITION BY c_id, s ORDER BY dist, j) = 1
),
qtab AS (
  SELECT q.vec_id AS q_id, q.s, cb.j,
         CAST(SUM(CAST(floor(q.val * cb.c_val * {_G} + 0.5)
                       AS DECIMAL(38,0))) AS DOUBLE) / {_G} AS pdot
  FROM sub q JOIN cb ON q.pos = cb.pos
  WHERE q.vec_id < 5
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT cand.q_id, cand.c_id,
         CAST(SUM(CAST(pdot * {_G} AS DECIMAL(38,0))) AS DOUBLE) / {_G} AS approx_dot
  FROM cand
  JOIN codes ON codes.c_id = cand.c_id
  JOIN qtab ON qtab.q_id = cand.q_id AND qtab.s = codes.s AND qtab.j = codes.j
  GROUP BY 1, 2
)
SELECT q_id, c_id, approx_dot,
       CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY approx_dot DESC, c_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
"""


def random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: every embedding
    projected from 64 dims onto 8 hash-derived ±1 hyperplanes
    (functions/vector.projection_dots — the same planes whose SIGNS are
    the LSH bucket key, so the reduced space is consistent with the ANN
    index). Map-only, no shuffle; emitted in scalar long form
    (vec_id, dim, val) — exact grid-snapped doubles, hash-checkable."""
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    # the projection is the array-fold-heavy step and the table scans as
    # one split — spread first so all cores project (still zero shuffles
    # at real scale, where the scan already has enough splits); the fixed
    # vector width unlocks the literal-hyperplane path (no per-row sha256)
    e = spread_to_parallelism(read_parquet_table(spark, sf_dir, "embeddings"))
    width = similarity._fixed_dim(e, "embedding")
    return e.select(
        "vec_id",
        F.posexplode(
            vector.projection_dots(_as_double_vec(F.col("embedding")), 8, dim=width)
        ).alias("dim", "val"),
    )


RANDOM_PROJECTION_SQL = f"""
SELECT vec_id, CAST(plane AS INT) AS dim, CAST(d AS DOUBLE) / {_G} AS val
FROM ({vector.projection_sql("SELECT vec_id, embedding FROM embeddings", 8)})
"""


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the whole embeddings table: top-3
    neighbors per vector within its LSH bucket, exact decimal re-rank —
    the edge list semantic clustering / diversity sampling consume
    (operators/similarity.knn_graph). The plane count is derived from
    the corpus size (adaptive_n_planes, target bucket 32 — 4 planes at
    sf0.01's 500 vectors, growing with log N) so bucket-local pair work
    stays bounded at any scale; the oracle computes the identical count
    with the same integer formula."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    return similarity.knn_graph(e, k=3)


_KNN_PLANES_SQL = vector.adaptive_n_planes_sql(
    "SELECT vec_id FROM embeddings", target_bucket=32
)

KNN_GRAPH_SQL = f"""
WITH sig AS ({vector.hyperplane_signature_sql("SELECT vec_id, embedding FROM embeddings", _KNN_PLANES_SQL)}),
ex AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
exb AS (SELECT e.vec_id, s.bucket, e.pos, e.val FROM ex e JOIN sig s USING (vec_id)),
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(floor(val*val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS nrm
  FROM ex GROUP BY vec_id
),
half AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         (CAST(SUM(CAST(floor(a.val*b.val*{_G} + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/{_G}) AS dot
  FROM exb a JOIN exb b ON a.pos = b.pos AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
  FROM half
  JOIN norms na ON na.vec_id = id_a
  JOIN norms nb ON nb.vec_id = id_b
),
edges AS (
  SELECT id_a AS src_id, id_b AS nbr_id, cosine FROM scored
  UNION ALL
  SELECT id_b, id_a, cosine FROM scored
)
SELECT src_id, nbr_id, cosine,
       CAST(row_number() OVER (PARTITION BY src_id
                               ORDER BY cosine DESC, nbr_id) AS INT) AS rank
FROM edges QUALIFY rank <= 3
"""


def knn_density_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-density outlier pruning — the embedding-curation decision the
    kNN graph feeds: a vector whose 3rd-nearest neighbor (within its LSH
    bucket) is distant, or that has fewer than 3 bucket neighbors at
    all, sits in a low-density region and gets flagged. Composition is
    pure DataFrame ops over :func:`knn_graph`: one agg per source (the
    kth cosine is the MIN over the top-k edges), one left join back to
    the full table so isolated vectors are flagged too."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    g = similarity.knn_graph(e, k=3)
    kth = g.groupBy(F.col("src_id").alias("vec_id")).agg(
        F.max("rank").alias("n_nbrs"),
        F.min("cosine").alias("kth_cosine"),
    )
    j = e.select("vec_id").join(kth, "vec_id", "left")
    n_nbrs = F.coalesce(F.col("n_nbrs"), F.lit(0))
    return j.select(
        "vec_id",
        n_nbrs.cast("int").alias("n_nbrs"),
        "kth_cosine",
        (
            (n_nbrs < 3) | (F.col("kth_cosine") < 0.2)
        ).cast("int").alias("is_outlier"),
    )


KNN_DENSITY_OUTLIERS_SQL = f"""
WITH g AS ({KNN_GRAPH_SQL}),
kth AS (
  SELECT src_id AS vec_id, MAX(rank) AS n_nbrs, MIN(cosine) AS kth_cosine
  FROM g GROUP BY src_id
)
SELECT e.vec_id,
       CAST(coalesce(n_nbrs, 0) AS INT) AS n_nbrs,
       kth_cosine,
       CAST(coalesce(n_nbrs, 0) < 3 OR kth_cosine < CAST(0.2 AS DOUBLE) AS INT)
         AS is_outlier
FROM embeddings e LEFT JOIN kth ON e.vec_id = kth.vec_id
"""


def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised labeling over the kNN graph: vectors with
    vec_id%5==0 are treated as UNLABELED and receive the majority label
    of their labeled bucket-neighbors (ties → smallest label; isolated →
    null) — the cheap label-spreading pass that bootstraps taxonomy
    labels across an embedding corpus. Output carries the held-out true
    label so the row is its own accuracy audit.

    Composition is pure DataFrame ops over :func:`knn_graph` (k=5):
    filter edges to labeled neighbors, one (vector, label) count agg,
    one top-1 window, one left join back — nothing beyond the graph's
    own scale surface."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    g = similarity.knn_graph(e, k=5)
    labels = e.select("vec_id", "label")
    unlabeled = labels.filter(F.col("vec_id") % 5 == 0)
    votes = (
        g.join(
            labels.filter(F.col("vec_id") % 5 != 0)
            .select(F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")),
            "nbr_id",
        )
        .filter(F.col("src_id") % 5 == 0)
        .groupBy(F.col("src_id").alias("vec_id"), "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("vec_id").orderBy(F.col("n_votes").desc(), F.col("nbr_label"))
    top = votes.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).select("vec_id", F.col("nbr_label").alias("predicted"), "n_votes")
    return (
        unlabeled.join(top, "vec_id", "left")
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            "predicted",
            F.coalesce("n_votes", F.lit(0)).alias("n_votes"),
            (F.col("predicted") == F.col("label")).cast("int").alias("correct"),
        )
    )


KNN_LABEL_PROPAGATION_SQL = f"""
WITH g AS ({KNN_GRAPH_SQL.replace("rank <= 3", "rank <= 5")}),
votes AS (
  SELECT g.src_id AS vec_id, e.label AS nbr_label, COUNT(*) AS n_votes
  FROM g JOIN embeddings e ON e.vec_id = g.nbr_id
  WHERE g.src_id % 5 = 0 AND e.vec_id % 5 <> 0
  GROUP BY 1, 2
),
top AS (
  SELECT vec_id, nbr_label AS predicted, n_votes
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY n_votes DESC, nbr_label) AS rn
        FROM votes)
  WHERE rn = 1
)
SELECT u.vec_id, u.label AS true_label, predicted,
       coalesce(n_votes, 0) AS n_votes,
       CAST(predicted = u.label AS INT) AS correct
FROM (SELECT vec_id, label FROM embeddings WHERE vec_id % 5 = 0) u
LEFT JOIN top ON u.vec_id = top.vec_id
"""


def triangle_count_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the UNDIRECTED k-NN graph: every
    (a < b < c) with all three edges in the symmetrized top-3-neighbor
    edge list — the classic distributed graph analytic (clustering
    coefficient, community density) as two equi-joins over an
    id-oriented edge list. Canonicalizing each kNN edge to
    (least, greatest) + distinct symmetrizes the directed top-k
    relation; orienting every edge low-id -> high-id then yields each
    triangle exactly once with no post-hoc dedup — the standard
    shuffle-join triangle algorithm (at production scale the
    orientation key is DEGREE, capping join fan-out on skewed graphs;
    id-orientation keeps the oracle twin byte-identical).

    The edge list feeds all three join legs, so it is persisted via the
    tracked cache (caller releases, same contract as the kNN family)."""
    from data_integration_case_study_spark.operators import cache

    e = read_parquet_table(spark, sf_dir, "embeddings")
    edges = cache.track(
        similarity.knn_graph(e, k=3)
        .select(
            F.least("src_id", "nbr_id").alias("a"),
            F.greatest("src_id", "nbr_id").alias("b"),
        )
        .distinct()
    )
    ab = edges
    bc = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = edges.select("a", F.col("b").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.col("c").alias("id_c"),
        )
    )


TRIANGLE_COUNT_KNN_SQL = f"""
WITH g AS ({KNN_GRAPH_SQL}),
edges AS (
  SELECT DISTINCT least(src_id, nbr_id) AS a, greatest(src_id, nbr_id) AS b
  FROM g
)
SELECT ab.a AS id_a, ab.b AS id_b, bc.b AS id_c
FROM edges ab
JOIN edges bc ON bc.a = ab.b
JOIN edges ac ON ac.a = ab.a AND ac.b = bc.b
"""


def clustering_coefficient_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the undirected kNN
    graph: 2*T(v) / (deg(v)*(deg(v)-1)) — how closed each vector's
    neighborhood is (near 1 = tight semantic cluster, near 0 =
    hub-and-spoke), the per-node refinement of the triangle count and
    the standard density feature for curation/sampling decisions.

    Shape: reuses the triangle_count_knn join (two equi-joins over the
    oriented edge list, each triangle once), explodes each triangle to
    its three corners, one per-node count, one degree join. Coefficient
    is an integer ratio with one double division; nodes below degree 2
    emit 0.0 by definition."""
    from data_integration_case_study_spark.operators import cache

    e = read_parquet_table(spark, sf_dir, "embeddings")
    edges = cache.track(
        similarity.knn_graph(e, k=3)
        .select(
            F.least("src_id", "nbr_id").alias("a"),
            F.greatest("src_id", "nbr_id").alias("b"),
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("a").alias("id"))
        .unionByName(edges.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ab = edges
    bc = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = edges.select("a", F.col("b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    tcnt = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = deg.join(tcnt, "id", "left").select(
        "id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.coalesce("n_triangles", F.lit(0)) * 2).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )
    return out


CLUSTERING_COEFFICIENT_KNN_SQL = f"""
WITH g AS ({KNN_GRAPH_SQL}),
edges AS (
  SELECT DISTINCT least(src_id, nbr_id) AS a, greatest(src_id, nbr_id) AS b
  FROM g
),
deg AS (
  SELECT id, COUNT(*) AS degree FROM (
    SELECT a AS id FROM edges UNION ALL SELECT b FROM edges
  ) GROUP BY 1
),
tri AS (
  SELECT ab.a, ab.b, bc.b AS c
  FROM edges ab
  JOIN edges bc ON bc.a = ab.b
  JOIN edges ac ON ac.a = ab.a AND ac.b = bc.b
),
tcnt AS (
  SELECT id, COUNT(*) AS n_triangles FROM (
    SELECT a AS id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
)
SELECT d.id, d.degree,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST(COALESCE(t.n_triangles, 0) * 2 AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN tcnt t ON t.id = d.id
"""


def pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the directed k-NN graph (3 fixed rounds,
    damping 0.85, operators/graph.pagerank): which vectors sit at the
    center of their semantic neighborhoods — the seed-selection /
    representativeness score a curation pipeline ranks clusters by.
    The kNN edge list is the one iterative-graph substrate the repo
    already proves; PageRank adds the numeric fixed-point loop
    (rank join -> per-destination decimal-snapped sum -> teleport) with
    a 3-round-unrolled oracle replaying every round exactly (same
    discipline as kmeans_centroids' 2-round twin).

    The edge list feeds every round, so it is persisted via the tracked
    cache (caller releases — bench/check_oracle clearCache; library
    callers release_tracked())."""
    from data_integration_case_study_spark.operators import cache
    from data_integration_case_study_spark.operators.graph import pagerank

    e = read_parquet_table(spark, sf_dir, "embeddings")
    edges = cache.track(
        similarity.knn_graph(e, k=3).select("src_id", "nbr_id")
    )
    pr = pagerank(edges, src="src_id", dst="nbr_id", damping=0.85, rounds=3)
    return pr.select(
        F.col("id").alias("vec_id"), F.round("pr", 6).alias("pagerank")
    )


def _pr_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT n.id,
         (1.0e0 - 0.85e0) / t.n + 0.85e0 * coalesce(s.m, 0.0) AS pr
  FROM nodes n CROSS JOIN total t
  LEFT JOIN (
    SELECT e.d AS id, {dsum_sql("p.pr / dg.outdeg")} AS m
    FROM edges e
    JOIN {prev} p ON e.s = p.id
    JOIN deg dg ON dg.id = e.s
    GROUP BY e.d
  ) s ON s.id = n.id
)"""


PAGERANK_KNN_SQL = f"""
WITH g AS ({KNN_GRAPH_SQL}),
edges AS (SELECT src_id AS s, nbr_id AS d FROM g),
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT s AS id FROM edges UNION ALL SELECT d FROM edges
  )
),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT s AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY s),
pr0 AS (SELECT n.id, 1.0 / t.n AS pr FROM nodes n CROSS JOIN total t),
{_pr_round_sql("pr0", "pr1")},
{_pr_round_sql("pr1", "pr2")},
{_pr_round_sql("pr2", "pr3")}
SELECT id AS vec_id, round(pr, 6) AS pagerank FROM pr3
"""


def personalized_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) over the kNN
    graph, teleporting to the label-0 seed set — proximity-to-seeds
    relevance, the recommendation/expansion form of pagerank_knn:
    "which vectors are structurally close to this curated set?" is the
    query behind seed-based corpus expansion and related-item retrieval.

    Same fixed-3-round dataflow and decimal-snapped contribution sums
    as pagerank_knn (operators/graph.pagerank with ``seeds=``); the
    teleport mass is uniform over seeds PRESENT IN THE GRAPH (a seed
    whose bucket produced no kNN edge carries no mass — mirrored in the
    oracle). Edge list persisted via the tracked cache."""
    from data_integration_case_study_spark.operators import cache
    from data_integration_case_study_spark.operators.graph import pagerank

    e = read_parquet_table(spark, sf_dir, "embeddings")
    edges = cache.track(
        similarity.knn_graph(e, k=3).select("src_id", "nbr_id")
    )
    seeds = e.filter(F.col("label") == 0).select("vec_id")
    pr = pagerank(
        edges, src="src_id", dst="nbr_id", damping=0.85, rounds=3, seeds=seeds
    )
    return pr.select(
        F.col("id").alias("vec_id"), F.round("pr", 6).alias("ppr")
    )


def _ppr_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT n.id,
         (1.0e0 - 0.85e0) * n.seed / t.ns + 0.85e0 * coalesce(s.m, 0.0) AS pr
  FROM nodes n CROSS JOIN total t
  LEFT JOIN (
    SELECT e.d AS id, {dsum_sql("p.pr / dg.outdeg")} AS m
    FROM edges e
    JOIN {prev} p ON e.s = p.id
    JOIN deg dg ON dg.id = e.s
    GROUP BY e.d
  ) s ON s.id = n.id
)"""


PERSONALIZED_PAGERANK_KNN_SQL = f"""
WITH g AS ({KNN_GRAPH_SQL}),
edges AS (SELECT src_id AS s, nbr_id AS d FROM g),
raw_nodes AS (
  SELECT DISTINCT id FROM (
    SELECT s AS id FROM edges UNION ALL SELECT d FROM edges
  )
),
nodes AS (
  SELECT n.id,
         CASE WHEN sd.vec_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS seed
  FROM raw_nodes n
  LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings WHERE label = 0) sd
    ON sd.vec_id = n.id
),
total AS (SELECT CAST(SUM(seed) AS DOUBLE) AS ns FROM nodes),
deg AS (SELECT s AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY s),
pr0 AS (SELECT n.id, n.seed / t.ns AS pr FROM nodes n CROSS JOIN total t),
{_ppr_round_sql("pr0", "pr1")},
{_ppr_round_sql("pr1", "pr2")},
{_ppr_round_sql("pr2", "pr3")}
SELECT id AS vec_id, round(pr, 6) AS ppr FROM pr3
"""


def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: per label, the cosine and
    L2 distance between the centroid of the FIRST corpus half and the
    SECOND (vec_id parity as the deterministic half split — in
    production the halves are yesterday's batch vs today's). A centroid
    that rotates or shifts between ingestion windows is the standard
    early-warning that the upstream embedding model or the data mix
    changed — the vector-space sibling of psi_drift_by_type.

    Determinism: per-dim scaled integer sums S = sum(val * 2^48)
    (exact for float32 inputs, the label_centroids trick). The scalar
    factors 1/(2^48 * n) CANCEL in cosine, so cos = sum(S0*S1) /
    (sqrt(sum(S0^2)) * sqrt(sum(S1^2))) is computed entirely from
    exact DECIMAL integer products (<= 3e35, inside 38 digits), with
    one correctly-rounded cast each and two IEEE sqrt/divides. L2 uses
    the actual means: per-dim differences snapped to the 2^40 integer
    grid via floor(x * 2^40 + 0.5) — every step IEEE-exact, unlike
    round(x, 9) whose decimal-string semantics differ between engines
    on near-ties — and squared in exact decimal before the final sqrt.

    Shape: one posexplode pass, one (label, half, pos) aggregation,
    one self-join on the label-dim grid (labels x 64 rows), constant
    output — a 100 TB corpus costs the one aggregation."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    scale = float(1 << 48)
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    per = ex.groupBy("label", "half", "pos").agg(
        F.sum((F.col("val") * F.lit(scale)).cast("decimal(38,0)"))
        .cast("decimal(19,0)")
        .alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    h0 = per.filter(F.col("half") == 0).select(
        "label", "pos", F.col("s").alias("s0"), F.col("n").alias("n0")
    )
    h1 = per.filter(F.col("half") == 1).select(
        "label", "pos", F.col("s").alias("s1"), F.col("n").alias("n1")
    )
    j = h0.join(h1, ["label", "pos"])
    m0 = F.col("s0").cast("double") / F.lit(scale) / F.col("n0").cast("double")
    m1 = F.col("s1").cast("double") / F.lit(scale) / F.col("n1").cast("double")
    d = F.floor((m0 - m1) * F.lit(float(1 << 40)) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    agg = j.groupBy("label").agg(
        F.max("n0").alias("n_first"),
        F.max("n1").alias("n_second"),
        F.sum(F.col("s0") * F.col("s1")).alias("__dot"),
        F.sum(F.col("s0") * F.col("s0")).alias("__n0sq"),
        F.sum(F.col("s1") * F.col("s1")).alias("__n1sq"),
        F.sum(d * d).alias("__l2sq"),
    )
    return agg.select(
        "label",
        "n_first",
        "n_second",
        (
            F.col("__dot").cast("double")
            / (
                F.sqrt(F.col("__n0sq").cast("double"))
                * F.sqrt(F.col("__n1sq").cast("double"))
            )
        ).alias("centroid_cosine"),
        (
            F.sqrt(F.col("__l2sq").cast("double")) / F.lit(float(1 << 40))
        ).alias("centroid_l2"),
    ).orderBy("label")


_ED_SCALE = "281474976710656.0"  # 2^48

EMBEDDING_DRIFT_BY_LABEL_SQL = f"""
WITH ex AS (
  SELECT label, vec_id % 2 AS half,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
per AS (
  SELECT label, half, pos,
         CAST(SUM(CAST(val * {_ED_SCALE} AS DECIMAL(38,0))) AS DECIMAL(19,0))
           AS s,
         COUNT(*) AS n
  FROM ex GROUP BY 1, 2, 3
),
j AS (
  SELECT h0.label, h0.pos, h0.s AS s0, h0.n AS n0, h1.s AS s1, h1.n AS n1
  FROM per h0 JOIN per h1
    ON h0.label = h1.label AND h0.pos = h1.pos
   AND h0.half = 0 AND h1.half = 1
),
agg AS (
  SELECT label, MAX(n0) AS n_first, MAX(n1) AS n_second,
         SUM(s0 * s1) AS dot, SUM(s0 * s0) AS n0sq, SUM(s1 * s1) AS n1sq,
         SUM(CAST(floor((CAST(s0 AS DOUBLE) / {_ED_SCALE} / CAST(n0 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) / {_ED_SCALE} / CAST(n1 AS DOUBLE))
                        * 1099511627776.0 + 0.5) AS DECIMAL(19,0))
             * CAST(floor((CAST(s0 AS DOUBLE) / {_ED_SCALE} / CAST(n0 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) / {_ED_SCALE} / CAST(n1 AS DOUBLE))
                          * 1099511627776.0 + 0.5) AS DECIMAL(19,0))) AS l2sq
  FROM j GROUP BY label
)
SELECT label, n_first, n_second,
       CAST(CAST(dot AS VARCHAR) AS DOUBLE)
         / (sqrt(CAST(CAST(n0sq AS VARCHAR) AS DOUBLE))
            * sqrt(CAST(CAST(n1sq AS VARCHAR) AS DOUBLE))) AS centroid_cosine,
       sqrt(CAST(CAST(l2sq AS VARCHAR) AS DOUBLE)) / 1099511627776.0
         AS centroid_l2
FROM agg
ORDER BY label
"""


# --- MMR diverse selection --------------------------------------------------

_MMR_K, _MMR_POOL, _MMR_LAM, _MMR_MU = 5, 100, 0.7, 0.3


def mmr_diverse_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998) — the diversity-aware curation step a training-data pipeline
    runs after retrieval: greedily pick k items maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-already-selected,
    so the selected set covers the space instead of k near-copies of
    the best match. Query = the vec_id 0 embedding; relevance = exact
    cosine.

    Scale shape: ONE linear relevance pass over the corpus (exact
    grid-snapped cosine vs the broadcast query vector), a top-|pool|
    rank cut (MMR is a RE-RANKER — the greedy rounds touch only the
    bounded candidate pool, the 100 TB corpus is scanned once), then k
    driver-bounded rounds over the cached pool: candidates x selected
    (<= pool x k) similarity, per-candidate max, one-row argmax
    (deterministic tie-break by vec_id). All cosines are exact-decimal
    snapped, the lambda chain is a fixed literal multiply/subtract —
    the DuckDB twin unrolls the identical k rounds."""
    from data_integration_case_study_spark.operators import cache
    from data_integration_case_study_spark.operators.similarity import (
        _exact_dot_cols,
        _exact_norm_col,
    )

    e = read_parquet_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("emb")
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("qemb"),
        _exact_norm_col("emb").alias("qnrm"),
    )
    rel = (
        e.withColumn("nrm", _exact_norm_col("emb"))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "emb",
            "nrm",
            (
                _exact_dot_cols("emb", "qemb")
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("relevance"),
        )
    )
    # top-|pool| via orderBy+limit = TakeOrderedAndProject (per-partition
    # partial top-k then a bounded driver merge), NOT a global rank
    # window (which would single-partition the whole corpus)
    pool = cache.track(
        rel.orderBy(F.desc("relevance"), "vec_id").limit(_MMR_POOL)
    )
    lam, mu = F.lit(_MMR_LAM), F.lit(_MMR_MU)
    out, sel_ids = [], []
    for r in range(1, _MMR_K + 1):
        if not sel_ids:
            scored = pool.select(
                "vec_id",
                "relevance",
                F.lit(0.0).alias("max_sim_prev"),
                (lam * F.col("relevance") - mu * F.lit(0.0)).alias("score"),
            )
        else:
            sel = pool.filter(F.col("vec_id").isin(sel_ids)).select(
                F.col("emb").alias("semb"), F.col("nrm").alias("snrm")
            )
            sims = (
                pool.filter(~F.col("vec_id").isin(sel_ids))
                .crossJoin(F.broadcast(sel))
                .select(
                    "vec_id",
                    "relevance",
                    (
                        _exact_dot_cols("emb", "semb")
                        / (F.col("nrm") * F.col("snrm"))
                    ).alias("sim"),
                )
            )
            scored = (
                sims.groupBy("vec_id", "relevance")
                .agg(F.max("sim").alias("max_sim_prev"))
                .select(
                    "vec_id",
                    "relevance",
                    "max_sim_prev",
                    (
                        lam * F.col("relevance") - mu * F.col("max_sim_prev")
                    ).alias("score"),
                )
            )
        top = scored.orderBy(F.desc("score"), "vec_id").limit(1).collect()[0]
        out.append(
            (
                r,
                top["vec_id"],
                top["relevance"],
                top["max_sim_prev"],
                top["score"],
            )
        )
        sel_ids.append(top["vec_id"])
    return spark.createDataFrame(
        out,
        "sel_rank int, vec_id bigint, relevance double, "
        "max_sim_prev double, score double",
    )


def _mmr_sql() -> str:
    lam, mu = "CAST(0.7 AS DOUBLE)", "CAST(0.3 AS DOUBLE)"
    rounds = [
        f"""
s1 AS (
  SELECT vec_id, relevance, 0.0 AS max_sim_prev,
         {lam} * relevance - {mu} * 0.0 AS score
  FROM pool ORDER BY score DESC, vec_id LIMIT 1
),
sel1 AS (SELECT vec_id FROM s1)"""
    ]
    for r in range(2, _MMR_K + 1):
        rounds.append(
            f"""
c{r} AS (
  SELECT p.vec_id, p.relevance, MAX(ps.sim) AS ms
  FROM pool p
  JOIN psim ps ON ps.ida = p.vec_id
  JOIN sel{r - 1} s ON ps.idb = s.vec_id
  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
  GROUP BY 1, 2
),
s{r} AS (
  SELECT vec_id, relevance, ms AS max_sim_prev,
         {lam} * relevance - {mu} * ms AS score
  FROM c{r} ORDER BY score DESC, vec_id LIMIT 1
),
sel{r} AS (SELECT vec_id FROM sel{r - 1} UNION ALL SELECT vec_id FROM s{r})"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {r} AS sel_rank, vec_id, relevance, max_sim_prev, score FROM s{r}"
        for r in range(1, _MMR_K + 1)
    )
    return f"""
WITH ex AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(floor(val*val*1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1099511627776.0) AS nrm
  FROM ex GROUP BY vec_id
),
rel AS (
  SELECT c.vec_id,
         CAST(SUM(CAST(floor(q.val*c.val*1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1099511627776.0
           / (qn.nrm * cn.nrm) AS relevance
  FROM ex c
  JOIN ex q ON q.pos = c.pos AND q.vec_id = 0
  JOIN norms qn ON qn.vec_id = 0
  JOIN norms cn ON cn.vec_id = c.vec_id
  GROUP BY c.vec_id, qn.nrm, cn.nrm
),
pool AS (
  SELECT vec_id, relevance FROM (
    SELECT vec_id, relevance,
           row_number() OVER (ORDER BY relevance DESC, vec_id) AS rk
    FROM rel
  ) WHERE rk <= {_MMR_POOL}
),
psim AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         CAST(SUM(CAST(floor(ea.val*eb.val*1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1099511627776.0
           / (na.nrm * nb.nrm) AS sim
  FROM pool a
  JOIN pool b ON a.vec_id <> b.vec_id
  JOIN ex ea ON ea.vec_id = a.vec_id
  JOIN ex eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
),
{",".join(rounds)}
{finals}
"""


def hard_negatives_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining over the kNN graph: for every vector, its
    nearest bucket-neighbors that carry a DIFFERENT label, ranked by
    cosine — the contrastive-training pairs that actually teach the
    boundary (random negatives are trivially far; these are the
    near-miss confusables). Composition is a label join + mismatch
    filter + per-source rank over the shared adaptive-plane kNN graph;
    nothing beyond the graph's own scale surface.

    Scale: at 100 TB this is THE standard mining recipe — ANN index →
    top-k per anchor → drop same-label — and every stage is the
    engine's existing bucketed machinery."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    g = similarity.knn_graph(e, k=3)
    lab = e.select("vec_id", "label")
    j = (
        g.join(lab.select(F.col("vec_id").alias("src_id"), F.col("label").alias("src_label")), "src_id")
        .join(lab.select(F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")), "nbr_id")
        .filter(F.col("src_label") != F.col("nbr_label"))
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return j.select(
        "src_id",
        "src_label",
        F.col("nbr_id").alias("neg_id"),
        F.col("nbr_label").alias("neg_label"),
        "cosine",
        F.row_number().over(w).cast("int").alias("neg_rank"),
    )


HARD_NEGATIVES_KNN_SQL = f"""
WITH g AS ({KNN_GRAPH_SQL})
SELECT src_id, src_label, neg_id, neg_label, cosine,
       CAST(row_number() OVER (PARTITION BY src_id
                               ORDER BY cosine DESC, neg_id) AS INT)
         AS neg_rank
FROM (
  SELECT g.src_id, la.label AS src_label,
         g.nbr_id AS neg_id, lb.label AS neg_label, g.cosine
  FROM g
  JOIN embeddings la ON la.vec_id = g.src_id
  JOIN embeddings lb ON lb.vec_id = g.nbr_id
  WHERE la.label <> lb.label
)
"""


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN index against brute-force truth, per
    query vector — retrieval evaluation AS A QUERY, so the
    accuracy/cost trade-off of the approximate index is monitored in
    the same dataflow plane it serves (the production loop: re-run the
    eval after every index rebuild, alert on recall drift). Both sides
    are the engine's own proven operators; the hit join is exact.

    Shape: brute-force truth for the 5 probe vectors is one
    corpus-linear scoring pass (queries are a broadcast side);
    the ANN side touches only its buckets; the comparison is a
    k-row-per-query join."""
    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk_bruteforce(e, q, k=5).select(
        "q_id", F.col("c_id").alias("e_id")
    )
    ann = similarity.ann_lsh_topk(e, q, k=5, n_planes=6).select(
        "q_id", F.col("c_id").alias("a_id")
    )
    hit = exact.join(
        ann, (exact.q_id == ann.q_id) & (exact.e_id == ann.a_id)
    ).groupBy(exact.q_id).agg(F.count(F.lit(1)).alias("n_hit"))
    ne = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    na = ann.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_ann"))
    return (
        ne.join(na, "q_id", "left")
        .join(hit, "q_id", "left")
        .select(
            "q_id",
            "n_exact",
            F.coalesce("n_ann", F.lit(0)).alias("n_ann"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
        .orderBy("q_id")
    )


ANN_RECALL_AT_K_SQL = f"""
WITH exact_tk AS ({COSINE_TOPK_SQL}),
ann_tk AS ({ANN_LSH_TOPK_SQL}),
hit AS (
  SELECT e.q_id, COUNT(*) AS n_hit
  FROM exact_tk e JOIN ann_tk a ON e.q_id = a.q_id AND e.c_id = a.c_id
  GROUP BY e.q_id
),
ne AS (SELECT q_id, COUNT(*) AS n_exact FROM exact_tk GROUP BY q_id),
na AS (SELECT q_id, COUNT(*) AS n_ann FROM ann_tk GROUP BY q_id)
SELECT ne.q_id, n_exact,
       COALESCE(n_ann, 0) AS n_ann, COALESCE(n_hit, 0) AS n_hit,
       CAST(COALESCE(n_hit, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
FROM ne
LEFT JOIN na ON ne.q_id = na.q_id
LEFT JOIN hit ON ne.q_id = hit.q_id
ORDER BY ne.q_id
"""


def harmonic_centrality_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality over the kNN graph: per vector,
    the count of nodes reachable in exactly 1, 2, and 3 directed hops
    and the harmonic score n1 + n2/2 + n3/3 — the bounded-radius
    centrality that ranks "semantic hubs" without an all-pairs
    shortest-path pass (3 hops covers the neighborhood any local
    curation decision reads; deeper BFS on a k-out-degree graph is a
    chained sparse join, round r touching <= k^r per source).

    Shape: the graph build is the shared :func:`operators.similarity.
    knn_graph` (k=3, adaptive planes); each BFS level is one equi-join
    on the previous frontier + a DISTINCT + anti-joins against earlier
    levels — per-level work is bounded by k^level edges per source.
    Isolated vectors appear with zeros via the left join from the
    corpus. Determinism: counts are exact; the harmonic sum is the
    fixed chain d(n1) + d(n2)/2.0 + d(n3)/3.0."""
    from data_integration_case_study_spark.operators import cache

    e = read_parquet_table(spark, sf_dir, "embeddings")
    g = similarity.knn_graph(e, k=3).select("src_id", "nbr_id")
    # l1 feeds the l2 build, two anti-joins, and its own count; l2 feeds
    # the l3 build, one anti-join, and its own count — persist both
    # (edge-list-sized) rather than re-running the kNN build per use
    l1 = cache.track(g.distinct())
    # the level-2/3 edge legs read the CACHED l1, not g: knn_graph's
    # top-k window emits one row per (src, rank), so g is already a
    # distinct edge set and l1 == g — deriving g2/g3 from g re-ran the
    # whole bucket join + top-k window once per leg (r11 profile)
    g2 = l1.select(F.col("src_id").alias("m"), F.col("nbr_id").alias("dst"))
    l2 = (
        l1.join(g2, l1.nbr_id == g2.m)
        .select("src_id", F.col("dst").alias("nbr_id"))
        .filter(F.col("src_id") != F.col("nbr_id"))
        .distinct()
        .join(l1, ["src_id", "nbr_id"], "left_anti")
    )
    l2 = cache.track(l2)
    g3 = l1.select(F.col("src_id").alias("m3"), F.col("nbr_id").alias("dst3"))
    l3 = (
        l2.join(g3, l2.nbr_id == g3.m3)
        .select("src_id", F.col("dst3").alias("nbr_id"))
        .filter(F.col("src_id") != F.col("nbr_id"))
        .distinct()
        .join(l1, ["src_id", "nbr_id"], "left_anti")
        .join(l2, ["src_id", "nbr_id"], "left_anti")
    )

    def lvl_count(lv, name):
        return lv.groupBy(F.col("src_id").alias("vec_id")).agg(
            F.count(F.lit(1)).alias(name)
        )

    out = (
        e.select("vec_id")
        .join(lvl_count(l1, "n1"), "vec_id", "left")
        .join(lvl_count(l2, "n2"), "vec_id", "left")
        .join(lvl_count(l3, "n3"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
            F.coalesce("n3", F.lit(0)).alias("n3"),
        )
    )
    return out.select(
        "*",
        (
            F.col("n1").cast("double")
            + F.col("n2").cast("double") / F.lit(2.0)
            + F.col("n3").cast("double") / F.lit(3.0)
        ).alias("harmonic"),
    )


HARMONIC_CENTRALITY_3HOP_SQL = f"""
WITH g0 AS ({KNN_GRAPH_SQL}),
l1 AS (SELECT DISTINCT src_id, nbr_id FROM g0),
l2 AS (
  SELECT DISTINCT a.src_id, b.nbr_id
  FROM l1 a JOIN l1 b ON a.nbr_id = b.src_id
  WHERE a.src_id <> b.nbr_id
  EXCEPT
  SELECT src_id, nbr_id FROM l1
),
l3 AS (
  SELECT DISTINCT a.src_id, b.nbr_id
  FROM l2 a JOIN l1 b ON a.nbr_id = b.src_id
  WHERE a.src_id <> b.nbr_id
  EXCEPT
  SELECT src_id, nbr_id FROM l1
  EXCEPT
  SELECT src_id, nbr_id FROM l2
),
c1 AS (SELECT src_id AS vec_id, COUNT(*) AS n1 FROM l1 GROUP BY 1),
c2 AS (SELECT src_id AS vec_id, COUNT(*) AS n2 FROM l2 GROUP BY 1),
c3 AS (SELECT src_id AS vec_id, COUNT(*) AS n3 FROM l3 GROUP BY 1)
SELECT e.vec_id,
       coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2, coalesce(n3, 0) AS n3,
       CAST(coalesce(n1, 0) AS DOUBLE)
         + CAST(coalesce(n2, 0) AS DOUBLE) / 2.0
         + CAST(coalesce(n3, 0) AS DOUBLE) / 3.0 AS harmonic
FROM embeddings e
LEFT JOIN c1 ON e.vec_id = c1.vec_id
LEFT JOIN c2 ON e.vec_id = c2.vec_id
LEFT JOIN c3 ON e.vec_id = c3.vec_id
"""


QUERIES = {
    "triangle_count_knn": triangle_count_knn,
    "clustering_coefficient_knn": clustering_coefficient_knn,
    "mmr_diverse_selection": mmr_diverse_selection,
    "pagerank_knn": pagerank_knn,
    "personalized_pagerank_knn": personalized_pagerank_knn,
    "embedding_drift_by_label": embedding_drift_by_label,
    "cosine_topk": cosine_topk,
    "random_projection": random_projection,
    "knn_graph": knn_graph,
    "knn_density_outliers": knn_density_outliers,
    "knn_label_propagation": knn_label_propagation,
    "harmonic_centrality_3hop": harmonic_centrality_3hop,
    "ann_recall_at_k": ann_recall_at_k,
    "hard_negatives_knn": hard_negatives_knn,
    "ivf_pq_topk": ivf_pq_topk,
    "pq_topk": pq_topk,
    "ivf_topk": ivf_topk,
    "kmeans_centroids": kmeans_centroids,
    "label_centroids": label_centroids,
    "embedding_neardups": embedding_neardups,
    "embedding_neardups_lsh": embedding_neardups_lsh,
    "semantic_dedup": semantic_dedup,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_multiprobe": ann_lsh_multiprobe,
    "multimodal_metadata": multimodal_metadata,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_features": multimodal_features,
    "multimodal_resize": multimodal_resize,
    "multimodal_ahash_neardups": multimodal_ahash_neardups,
    "multimodal_phash_neardups": multimodal_phash_neardups,
}

ORACLES = {
    "mmr_diverse_selection": _mmr_sql(),
    "triangle_count_knn": TRIANGLE_COUNT_KNN_SQL,
    "clustering_coefficient_knn": CLUSTERING_COEFFICIENT_KNN_SQL,
    "pagerank_knn": PAGERANK_KNN_SQL,
    "personalized_pagerank_knn": PERSONALIZED_PAGERANK_KNN_SQL,
    "embedding_drift_by_label": EMBEDDING_DRIFT_BY_LABEL_SQL,
    "cosine_topk": COSINE_TOPK_SQL,
    "random_projection": RANDOM_PROJECTION_SQL,
    "knn_graph": KNN_GRAPH_SQL,
    "knn_density_outliers": KNN_DENSITY_OUTLIERS_SQL,
    "knn_label_propagation": KNN_LABEL_PROPAGATION_SQL,
    "harmonic_centrality_3hop": HARMONIC_CENTRALITY_3HOP_SQL,
    "ann_recall_at_k": ANN_RECALL_AT_K_SQL,
    "hard_negatives_knn": HARD_NEGATIVES_KNN_SQL,
    "pq_topk": PQ_TOPK_SQL,
    "ivf_topk": IVF_TOPK_SQL,
    "ivf_pq_topk": IVF_PQ_TOPK_SQL,
    "kmeans_centroids": KMEANS_CENTROIDS_SQL,
    "label_centroids": LABEL_CENTROIDS_SQL,
    "embedding_neardups": EMBEDDING_NEARDUPS_SQL,
    "embedding_neardups_lsh": EMBEDDING_NEARDUPS_LSH_SQL,
    "semantic_dedup": SEMANTIC_DEDUP_SQL,
    "ann_lsh_topk": ANN_LSH_TOPK_SQL,
    "ann_lsh_multiprobe": ANN_LSH_MULTIPROBE_SQL,
    "multimodal_metadata": MULTIMODAL_METADATA_SQL,
    "multimodal_frame_sample": MULTIMODAL_FRAME_SAMPLE_SQL,
    "multimodal_features": MULTIMODAL_FEATURES_SQL,
    "multimodal_resize": MULTIMODAL_RESIZE_SQL,
    "multimodal_ahash_neardups": MULTIMODAL_AHASH_NEARDUPS_SQL,
    "multimodal_phash_neardups": _phash_sql(),
}

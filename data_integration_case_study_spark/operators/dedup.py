"""Deduplication suite for LLM training-data pipelines (SURVEY.md §2.9).

Five strategies, cheapest-first — the order a real 100 TB dedup pipeline
applies them:

1. exact (hash-groupBy on a content fingerprint) — one shuffle.
2. n-gram Jaccard within blocking keys — self-join bounded by blocks.
3. MinHash-LSH — signature (map-only) → band buckets (one shuffle) →
   candidate pairs (bucket-local joins) → Jaccard verify. Near-linear.
4. SimHash — 64-bit fingerprints, Hamming-distance candidates via
   band-of-bits blocking.
5. embedding-cosine near-dup — lives in operators/similarity.py.

All native expressions (sha2 / transform / aggregate) — no UDFs.
MinHash/SimHash signatures hash shingles/tokens with the sha256-derived
:func:`~data_integration_case_study_spark.functions.text.hash60`, which
DuckDB reproduces bit-for-bit — so the ENTIRE pipeline (signatures, band
buckets, candidate pairs, verify) is oracle-checkable, not just the
Jaccard verify step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.text import (
    fingerprint,
    hash60,
    normalize_text,
    tokenize,
    word_ngrams,
)

# A large 32-bit prime for the affine MinHash permutations.
_MERSENNE = (1 << 31) - 1

# Largest distinct token vocabulary ngram_jaccard_pairs' window path
# verifies as fixed-width bitsets (see its docstring); 0 disables the probe.
BITSET_MAX_VOCAB = 256


def _tokens(text_col: str, tokens_col: str | None):
    """The detector input tokens: a pre-tokenized array column when the
    caller shares one tokenize pass across detectors (the
    neardup_method_agreement meta-eval persists (id, tokens) ONCE and
    feeds all three detectors), else tokenize(text) as before. Both
    forms are the identical expression, so results never differ."""
    return F.col(tokens_col) if tokens_col is not None else tokenize(F.col(text_col))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on the normalized-content fingerprint, keeping the
    lowest id per group (deterministic first-wins).

    Shape: ONE aggregation — ``min_by(struct(row), id)`` — with map-side
    partial combine, instead of a window, which would shuffle every
    duplicate row. At 100 TB the agg form ships one winner candidate per
    (partition, fingerprint). It does sort: a struct aggregation buffer
    is not a fixed-width mutable field, so ``HashAggregate`` cannot hold
    it and the executed plan is a ``SortAggregate`` with two ``Sort``
    nodes (by fingerprint before the partial and before the final
    aggregate). Those sorts buffer their partitions in execution memory,
    which makes this operator the peak-memory stage of the benchmark's
    ``llm_curation`` workload."""
    cols = df.columns
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("__row"))
        .select("__row.*")
    )


def jaccard(a, b):
    """Jaccard similarity of two array columns (as sets)."""
    a_d, b_d = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(a_d, b_d)).cast("double")
    union = F.size(F.array_union(a_d, b_d)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard_distinct(a, b):
    """Jaccard of two ALREADY-DISTINCT array columns — the verify-path
    form (guide §1.2 step 2, per-pair work): skips the two redundant
    ``array_distinct`` re-normalizations and never materializes the
    union array, since |a ∪ b| = |a| + |b| − |a ∩ b| for sets. Every
    verify below feeds sets by construction (``array_distinct`` at the
    summary build, or ``collect_set`` shingles), and the candidate join
    replays each array per pair — so per-pair cost is one intersect +
    two sizes instead of two distincts + intersect + a materialized
    union. Values are identical: the same exact integers enter the same
    double division."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def blocked_rank(df: DataFrame, block_col: str, order_col: str) -> DataFrame:
    """``row_number() OVER (PARTITION BY block ORDER BY order)`` without a
    single-task whole-block sort — for LOW-CARDINALITY block domains
    (lang has ~5 values; a plain window would sort a whole language's
    shard of a 100 TB corpus in one task). Requires a NUMERIC, NON-NULL
    ``order_col`` (both catalog callers rank by integer doc/embedding
    id), unique per block. The non-null part is load-bearing: a NULL
    order value maps to a NULL ``__fb`` fine bucket, which fails the
    inner equi-join to the bucket map, so such rows would be silently
    DROPPED — and a rank over NULL order keys has no well-defined unique
    position anyway. Callers with nullable order columns must filter or
    coalesce first.

    Two-phase distributed ranking over a DETERMINISTIC, equal-depth
    bucketing: order values affine-map into K = 128·nparts fine buckets
    (monotone — double conversion and positive affine scaling never
    invert the order), a tiny per-fine-bucket count frame (≤ K rows)
    assigns each fine bucket a coarse bucket by CUMULATIVE MASS
    (``floor(4·nparts · rows_before / total)``), and rows rank locally
    inside each (bucket, block) group plus per-(bucket, block) offsets
    from a broadcast counts frame. Bucket ids increase with the sort
    key, so the running-count offset over bucket id is the global rank
    base. Adds a column ``__r``.

    Why equal-DEPTH and not a plain affine split (round-9, found by
    profiling a ~60 s wall spike): the ngram corpus unions mutated
    twins at ``doc_id + 1_000_000``, so its id space is BIMODAL and an
    affine split of the [min, max] range collapses every row into 2 of
    32 buckets — the rank window and whatever AQE fuses into those
    tasks then run effectively single-threaded. The cumulative-mass map
    redistributes whole fine buckets by row count — it cannot split
    WITHIN a fine bucket — so the worst coarse bucket carries the
    heaviest single fine bucket's mass. For any distribution that
    SPREADS across fine buckets (dense ids, hash-like ids, the bimodal
    twin corpus) that is ~1/128 of the data at these constants; a
    pathological shape — a tight id cluster plus one distant outlier
    stretching [min, max] so nearly all mass lands in ONE fine bucket —
    degrades back to a near-single-task rank (perf only; answers are
    unaffected at any imbalance). Both catalog callers' id spaces are
    dense-plus-offset, far from that shape; a recursive split of
    overweight fine buckets is the known fix if a future caller needs
    it.

    The round-8 form range-partitioned via ``repartitionByRange``, whose
    boundaries come from runtime SAMPLING: independent re-evaluations of
    the subtree saw different splits, which corrupted ~1% of ranks at
    sf0.1 until a persist pinned one materialization. Deriving the
    bucketing from the DATA removes that hazard at the root: every
    re-evaluation computes identical bucket ids, so correctness no
    longer depends on the persist, and the sampling pass is gone. The
    locally-ranked frame is STILL persisted — but now purely as a
    performance cache: the ranked output is consumed by several
    branches (offsets, probe explode, target side), and an A/B without
    it measured ngram 8.3→10.1s / agreement 12.3→15.5s at sf0.1 from
    the repeated subtree evaluation. A cache miss or eviction now
    degrades wall time, never answers. The min/max scalars come from a
    1-row agg joined in by a broadcast cross join; the fine→coarse map
    is a ≤ K-row broadcast join (its global window sorts ≤ K rows in
    one task — constant work at any corpus size).
    """
    from data_integration_case_study_spark.operators import cache

    nparts = df.sparkSession.sparkContext.defaultParallelism
    # 4x more coarse buckets than partitions: hash-partitioning exactly
    # nparts bucket ids into nparts partitions leaves ~1/e of them empty
    # and stacks 2-3 buckets on others (birthday collisions); with 4x
    # oversampling the worst stacked partition carries ~the average
    # per-core load and task scheduling smooths the rest.
    ncoarse = nparts * 4
    kfine = nparts * 128
    bounds = df.agg(
        F.min(order_col).cast("double").alias("__lo"),
        F.max(order_col).cast("double").alias("__hi"),
    )
    fine = F.least(
        F.lit(kfine - 1),
        F.floor(
            (F.col(order_col).cast("double") - F.col("__lo"))
            * F.lit(float(kfine))
            / (F.col("__hi") - F.col("__lo") + F.lit(1.0))
        ),
    ).cast("int")
    binned = df.crossJoin(F.broadcast(bounds)).withColumn("__fb", fine).drop(
        "__lo", "__hi"
    )
    fb_counts = binned.groupBy("__fb").agg(F.count(F.lit(1)).alias("__fn"))
    total_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    before_w = Window.orderBy("__fb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pid_map = fb_counts.select(
        "__fb",
        F.floor(
            F.coalesce(F.sum("__fn").over(before_w), F.lit(0))
            .cast("double")
            * F.lit(float(ncoarse))
            / F.sum("__fn").over(total_w).cast("double")
        ).cast("int").alias("__pid"),
    )
    part = (
        binned.join(F.broadcast(pid_map), "__fb")
        .drop("__fb")
        .repartition(ncoarse, F.col("__pid"))
    )
    local = cache.track(
        part.withColumn(
            "__lr",
            F.row_number().over(
                Window.partitionBy("__pid", block_col).orderBy(order_col)
            ),
        )
    )
    counts = local.groupBy("__pid", block_col).agg(F.max("__lr").alias("__cnt"))
    offsets = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__cnt").over(
                Window.partitionBy(block_col)
                .orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).drop("__cnt")
    return (
        local.join(F.broadcast(offsets), ["__pid", block_col])
        .withColumn("__r", F.col("__lr") + F.col("__off"))
        .drop("__pid", "__lr", "__off")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.5,
    n: int = 1,
    tokens_col: str | None = None,
    block_window: int | None = None,
) -> DataFrame:
    """Near-dup pairs by token/{n}-gram Jaccard within a blocking key.

    ``block_window=None`` (default) keeps the exhaustive semantics: only
    same-block pairs are compared, cost Σ |block|². That is quadratic
    whenever the block domain is bounded (lang has ~5 values — the
    round-7 sf1 audit timed this form out at 10× data), so for corpora
    where the block is not a real partitioner, ``block_window=W`` bounds
    the join the same way ``bucket_window`` bounds degenerate LSH
    buckets in :func:`minhash_candidate_pairs`: each doc is compared
    only with its W id-ordered successors inside its block, turning a
    b-member block from b²/2 into b·W pairs — linear in the corpus with
    a constant per-doc comparison budget. Duplicate CLUSTERS survive
    through successor chaining (connected components reconstruct the
    group); distant same-block pairs are not emitted. The rank comes
    from :func:`blocked_rank` (two-phase range ranking), not a plain
    window — PARTITION BY lang would single-task-sort a whole language
    at 100 TB. The probe side explodes only (id, block, rank) longs; the
    token arrays join in AFTER the candidate equi-join, so the
    variable-length payload is never replicated per probe.

    A frequency-prefix-filtered exact form (AllPairs/PPJoin) was
    A/B-measured and REJECTED for this corpus family: with a bounded
    vocabulary (the synthetic corpus has 31 distinct tokens, document
    frequency ≈ corpus/7) every token is frequent, prefixes prune
    nothing, and the candidate volume (25.6M at sf0.1) exceeded the
    blocked all-pairs join it was meant to beat (3.6M) — 116s vs ~11s.
    Prefix filtering needs a zipfian vocabulary to bite; the successor
    bound is distribution-free.

    Bitset verify (r12, guide §2.3 narrower types / §1.2 per-pair
    work): when the window path's DISTINCT token/ngram vocabulary fits
    in ``BITSET_MAX_VOCAB`` values (probed with one bounded
    ``distinct().limit(cap+1)`` pass — at most cap+1 longs ever reach
    the driver, the spatial pre-launch-stats pattern), each doc's token
    SET is encoded as a fixed-width bitmask over the sorted vocabulary
    (ceil(V/64) longs) and the verify computes |a ∩ b| as popcounts of
    word-wise ANDs instead of ``array_intersect`` over the replayed
    arrays. The verify joins then carry ~8·ceil(V/64)+4 bytes per side
    instead of the token array, and the per-pair cost drops from a
    hash-set build + probe to a handful of AND+popcount instructions.
    EXACTLY the same integers enter the same division — positions are a
    bijection from distinct token values, so popcount(AND) = |a ∩ b|
    and |a ∪ b| = |a| + |b| − |a ∩ b| as before — hence identical
    jaccard doubles and an untouched oracle. Vocabularies larger than
    the cap (real-text corpora) keep the array verify: one wasted
    slim probe pass, no other cost.
    """
    base_toks = _tokens(text_col, tokens_col)
    toks = F.array_distinct(
        base_toks if n == 1 else word_ngrams(base_toks, n)
    )
    base = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("block"), toks.alias("toks")
    )
    if block_window is None:
        a = base.select(
            F.col("id").alias("id_a"), "block", F.col("toks").alias("toks_a")
        )
        b = base.select(
            F.col("id").alias("id_b"), "block", F.col("toks").alias("toks_b")
        )
        return (
            a.join(b, "block")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "jaccard", F.round(jaccard_distinct(F.col("toks_a"), F.col("toks_b")), 6)
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "block", "jaccard")
        )

    from data_integration_case_study_spark.operators import cache

    # Bounded vocab probe (see docstring): ONE slim pass; at most
    # cap+1 distinct token values reach the driver. Numeric (long)
    # token domains only — both catalog callers pre-hash to hash60
    # longs; a string vocabulary skips the bitset (literal-embedding
    # strings into SQL text is an escaping liability for zero catalog
    # benefit).
    vocab: list[int] | None = None
    if BITSET_MAX_VOCAB:
        probe = [
            r[0]
            for r in base.select(F.explode("toks").alias("__t"))
            .distinct()
            .limit(BITSET_MAX_VOCAB + 1)
            .collect()
        ]
        if probe and len(probe) <= BITSET_MAX_VOCAB and all(
            isinstance(v, int) for v in probe
        ):
            vocab = sorted(probe)

    if vocab is not None:
        nw = (len(vocab) + 63) // 64
        vs_sql = "array(" + ",".join(f"{int(v)}L" for v in vocab) + ")"
        pos = base.selectExpr(
            "id", "block", "size(toks) AS __sz",
            f"transform(toks, t -> array_position({vs_sql}, t) - 1) AS __pos",
        )
        summary = pos.selectExpr(
            "id", "block", "__sz",
            *[
                f"aggregate(__pos, CAST(0 AS BIGINT), (acc, p) -> "
                f"IF(p >= {w * 64} AND p < {w * 64 + 64}, "
                f"acc | shiftleft(CAST(1 AS BIGINT), CAST(p - {w * 64} AS INT)), "
                f"acc)) AS __m{w}"
                for w in range(nw)
            ],
        )
        # the compact mask summary (8*nw+4 bytes/doc) is what the two
        # verify sides re-read — cache IT, not the token arrays
        summary = cache.track(summary)
        ranked = blocked_rank(summary.select("id", "block"), "block", "id")
        probes = ranked.select(
            F.col("id").alias("id_a"),
            "block",
            F.explode(
                F.sequence(F.col("__r") + 1, F.col("__r") + block_window)
            ).alias("__r"),
        ).repartition(F.col("block"), F.col("__r"))
        cand = probes.join(
            ranked.select(F.col("id").alias("id_b"), "block", "__r"),
            ["block", "__r"],
        ).select("id_a", "id_b", "block")
        sa = summary.select(
            F.col("id").alias("id_a"), F.col("__sz").alias("__sza"),
            *[F.col(f"__m{w}").alias(f"__ma{w}") for w in range(nw)],
        )
        sb = summary.select(
            F.col("id").alias("id_b"), F.col("__sz").alias("__szb"),
            *[F.col(f"__m{w}").alias(f"__mb{w}") for w in range(nw)],
        )
        inter = F.expr(
            " + ".join(f"bit_count(__ma{w} & __mb{w})" for w in range(nw))
        ).cast("double")
        union = (F.col("__sza") + F.col("__szb")).cast("double") - inter
        return (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "block", "jaccard")
        )

    # token arrays are read twice (both verify sides)
    base = cache.track(base)
    ranked = blocked_rank(base.select("id", "block"), "block", "id")
    # REPARTITION after the W-way explode: the slim ranked frame is tiny,
    # so AQE coalesces its shuffle to ~1 partition, and with only
    # broadcast joins downstream the entire exploded-probe + verify
    # pipeline would then run as ONE task (observed: a single core
    # pinned for >13 min at sf1). The explicit shuffle on the join key
    # both restores parallelism and co-partitions the candidate join.
    probes = ranked.select(
        F.col("id").alias("id_a"),
        "block",
        F.explode(
            F.sequence(F.col("__r") + 1, F.col("__r") + block_window)
        ).alias("__r"),
    ).repartition(F.col("block"), F.col("__r"))
    cand = probes.join(
        ranked.select(F.col("id").alias("id_b"), "block", "__r"),
        ["block", "__r"],
    ).select("id_a", "id_b", "block")
    return (
        cand.join(
            base.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a")),
            "id_a",
        )
        .join(
            base.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b")),
            "id_b",
        )
        .withColumn("jaccard", F.round(jaccard_distinct(F.col("toks_a"), F.col("toks_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "block", "jaccard")
    )


def _affine_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    return [
        (
            (seed * 1000003 + i * 7919) % _MERSENNE or 1,
            (seed * 999331 + i * 104729) % _MERSENNE,
        )
        for i in range(num_hashes)
    ]


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, h) rows: one 60-bit hash per DISTINCT word n-gram shingle,
    reduced mod the Mersenne prime for the affine permutations."""
    toks = _tokens(text_col, tokens_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams(toks, n))).alias("__shingle"),
    ).select("id", (hash60("__shingle") % F.lit(_MERSENNE)).alias("h"))


def _minima_aggs(num_hashes: int, seed: int) -> list:
    """The ``num_hashes`` affine-minima agg expressions
    ``min((a_i*h + b_i) mod p)`` — codegen'd, map-side combinable.
    Built as SQL text (one JVM parse per agg) rather than Column
    arithmetic — the py4j-construction fix shared with
    :func:`simhash_fingerprints`; identical parsed trees."""
    return [
        F.expr(f"min((CAST({a} AS BIGINT) * h + {b}) % {_MERSENNE}) AS m{i}")
        for i, (a, b) in enumerate(_affine_params(num_hashes, seed))
    ]


def _signature_array(num_hashes: int):
    return F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("signature")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, num_hashes: int = 32, seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature over word n-gram shingles.

    Dataflow shape, chosen for codegen and scale: explode shingles to rows
    (one hash per shingle), then ONE hash aggregation computing all
    ``num_hashes`` affine minima as codegen'd agg expressions.
    Higher-order-function lambdas are interpreted in Spark -- the
    explode+agg form keeps the signature computation inside whole-stage
    codegen with map-side partial aggregation, so the shuffle carries
    only (id, num_hashes longs) per document.
    """
    return (
        _shingle_hashes(df, id_col, text_col, n)
        .groupBy("id")
        .agg(*_minima_aggs(num_hashes, seed))
        .select("id", _signature_array(num_hashes))
    )


def _minhash_per_doc(
    df: DataFrame, id_col: str, text_col: str,
    n: int, num_hashes: int, seed: int,
    tokens_col: str | None = None,
) -> DataFrame:
    """Shared single-pass (id, signature, shingles) summary used by both
    the self-join (:func:`minhash_candidate_pairs`) and the incremental
    (:func:`minhash_incremental_pairs`) dedup forms. One explode of
    shingles feeds ONE aggregation producing the ``num_hashes`` affine
    minima (shared with :func:`minhash_signatures` via
    ``_shingle_hashes``/``_minima_aggs``) plus the distinct shingle-hash
    set; the result is persisted — it is the compact corpus summary each
    caller reads 2-3 times and is exactly what you'd checkpoint between
    dedup stages at 100 TB.

    Cache lifecycle is CALLER-owned: the operators return lazy frames, so
    they cannot unpersist behind their own result. Harness callers
    ``spark.catalog.clearCache()`` between queries (bench.py and
    scripts/check_oracle.py do); library callers release engine-owned
    caches with ``operators.cache.release_tracked()`` — every persist
    here routes through that registry.
    """
    from data_integration_case_study_spark.operators import cache

    out = (
        _shingle_hashes(df, id_col, text_col, n, tokens_col)
        .groupBy("id")
        .agg(*_minima_aggs(num_hashes, seed), F.collect_set("h").alias("shingles"))
        .select("id", _signature_array(num_hashes), "shingles")
    )
    return cache.track(out)


def _band_buckets(per_doc: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a signature into its (band, bucket) LSH keys."""
    rows_per_band = num_hashes // bands
    return per_doc.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.lit(b),
                            *[F.slice("signature", b * rows_per_band + 1, rows_per_band)],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, num_hashes: int = 32, bands: int = 8,
    threshold: float = 0.5, seed: int = 42,
    bucket_window: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: signature -> band buckets -> bucket-local
    candidate join -> exact Jaccard verify >= threshold.

    Single-pass shape: ONE explode of shingles feeds ONE aggregation that
    produces both the minhash signature (num_hashes minima) and the
    document's distinct shingle-hash set (collect_set) -- so the input is
    scanned once, and the verify step computes Jaccard over compact long
    arrays instead of re-shingling strings. Banding then turns all-pairs
    into groupBy(band, bucket); the verify join touches candidates only.
    Jaccard over shingle hashes equals Jaccard over shingles up to hash
    collisions (~|shingles|^2 / 2^31 per doc -- negligible).

    Scale posture: the banded self-join carries ONLY (id, band, bucket)
    longs -- shingle sets join in AFTER candidate pairs are deduped, so
    per-band replication never multiplies the variable-length payload.
    ``bucket_window`` bounds degenerate buckets (boilerplate corpora pile
    thousands of near-identical docs into one bucket, going quadratic):
    each doc pairs only with its ``bucket_window`` id-ordered successors,
    turning a b-member bucket from b^2/2 into b*window pairs. Duplicate
    CLUSTERS survive -- identical docs chain a->b->c... through adjacent
    pairs, so connected components reconstruct the full group -- but
    distant same-bucket pairs are not emitted; None (default) keeps the
    exhaustive per-bucket semantics of the oracle.
    """
    # per_doc is read three times (banding + both sides of the verify
    # join); _minhash_per_doc persists it so Spark does not re-shingle and
    # re-hash the corpus for each read (see its cache-lifecycle note).
    per_doc = _minhash_per_doc(
        df, id_col, text_col, n, num_hashes, seed, tokens_col=tokens_col
    )
    banded = _band_buckets(per_doc, num_hashes, bands)

    if bucket_window is None:
        cand = (
            banded.alias("x")
            .join(banded.alias("y"), ["band", "bucket"])
            .filter(F.col("x.id") < F.col("y.id"))
        )
    else:
        # equi-join on the TARGET rank (not a residual range filter over the
        # bucket self-join, which would still enumerate |bucket|^2 rows):
        # each member explodes to its `bucket_window` successor ranks, so
        # the join produces exactly |bucket| * window candidates.
        w = Window.partitionBy("band", "bucket").orderBy("id")
        ranked = banded.withColumn("__r", F.row_number().over(w))
        probes = ranked.select(
            "id", "band", "bucket",
            F.explode(
                F.sequence(F.col("__r") + 1, F.col("__r") + bucket_window)
            ).alias("__r"),
        )
        cand = probes.alias("x").join(ranked.alias("y"), ["band", "bucket", "__r"])
    pairs = (
        cand.select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = per_doc.select("id", "shingles")
    verify = (
        pairs.join(sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
    )
    return (
        verify.withColumn("jaccard", F.round(jaccard_distinct(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_incremental_pairs(
    new_df: DataFrame, corpus_df: DataFrame, id_col: str, text_col: str,
    n: int = 3, num_hashes: int = 32, bands: int = 8,
    threshold: float = 0.5, seed: int = 42,
) -> DataFrame:
    """Incremental (cross-corpus) MinHash dedup: near-dup pairs between an
    INCOMING batch and an already-retained corpus — the steady-state form
    of corpus dedup (a crawl refresh is deduped against the lake before
    append; the corpus side is NOT re-deduped against itself).

    Scale shape: both sides reduce to the compact (id, signature,
    shingles) summary; the banded join is new×corpus only, so per-band
    work is |new| probe rows hash-joined against the corpus bucket index
    — cost grows with the batch, never with corpus². At 100 TB the corpus
    summary is a materialized table maintained across ingests (write it
    once, bucket it on (band, bucket)), and each refresh only computes
    signatures for its own documents.

    Returns (new_id, dup_of, jaccard): incoming docs near-duplicating a
    corpus doc at >= threshold.
    """
    new_pd = _minhash_per_doc(new_df, id_col, text_col, n, num_hashes, seed)
    corp_pd = _minhash_per_doc(corpus_df, id_col, text_col, n, num_hashes, seed)
    cand = (
        _band_buckets(new_pd, num_hashes, bands)
        .withColumnRenamed("id", "new_id")
        .join(
            _band_buckets(corp_pd, num_hashes, bands)
            .withColumnRenamed("id", "dup_of"),
            ["band", "bucket"],
        )
        .select("new_id", "dup_of")
        .dropDuplicates(["new_id", "dup_of"])
    )
    verify = cand.join(
        new_pd.select(F.col("id").alias("new_id"), F.col("shingles").alias("sh_a")),
        "new_id",
    ).join(
        corp_pd.select(F.col("id").alias("dup_of"), F.col("shingles").alias("sh_b")),
        "dup_of",
    )
    return (
        verify.withColumn("jaccard", F.round(jaccard_distinct(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "dup_of", "jaccard")
    )


# SimHash width: 60 bits (15 hex chars of sha256) — the widest slice that
# stays a non-negative BIGINT in both Spark and DuckDB, keeping every
# arithmetic step (votes, bit assembly, quarter masks) overflow-free and
# oracle-checkable. 4 × 15-bit quarters preserve the Hamming≤3 pigeonhole.
SIMHASH_BITS = 60
_QUARTER_BITS = SIMHASH_BITS // 4
_QUARTER_MASK = (1 << _QUARTER_BITS) - 1


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """60-bit SimHash: per-token sha256-derived hash, signed vote per bit
    position, sign -> bit.

    Same codegen-friendly dataflow as minhash_signatures: explode tokens
    (frequency-weighted, as classic SimHash wants), hash each once, then
    ONE aggregation with 60 signed-vote sums; the 60-term word assembly is
    constant-shift ORs over the aggregated votes. Map-side partial agg
    means the shuffle carries (id, 60 longs) per document.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(text_col, tokens_col)).alias("__tok"),
    ).select("id", hash60("__tok").alias("h"))
    # the 60 vote aggs and the 60-term bit assembly are built as SQL
    # text (one JVM parse each) — composing them as Python Column
    # arithmetic cost ~1.5 s of py4j driver time per call (same fix as
    # phash_signatures); parsed trees and values are identical
    aggs = [
        F.expr(
            f"sum(CASE WHEN getbit(h, {j}) = 1 THEN 1 ELSE -1 END) AS v{j}"
        )
        for j in range(SIMHASH_BITS)
    ]
    votes = toks.groupBy("id").agg(*aggs)
    fp = " | ".join(
        f"shiftleft(CAST(CASE WHEN v{j} > 0 THEN 1 ELSE 0 END AS BIGINT), {j})"
        for j in range(SIMHASH_BITS)
    )
    return votes.selectExpr(
        "id", f"CAST(0 AS BIGINT) | {fp} AS simhash"
    )


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    tokens_col: str | None = None,
) -> DataFrame:
    """SimHash near-dup pairs ≤ max_hamming bits apart, blocked on 15-bit
    quarters (a pair within Hamming ≤ 3 must agree exactly on ≥1 of the 4
    quarters — pigeonhole), so the join is bucket-local, never all-pairs."""
    fps = simhash_fingerprints(df, id_col, text_col, tokens_col)
    quarters = fps.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftright("simhash", q * _QUARTER_BITS)
                .bitwiseAND(F.lit(_QUARTER_MASK)).alias("qv"),
            ) for q in range(4)
        ])).alias("qq"),
    ).select("id", "simhash", "qq.q", "qq.qv")
    cand = (
        quarters.alias("x")
        .join(quarters.alias("y"), ["q", "qv"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"), F.col("x.simhash").alias("h_a"),
            F.col("y.id").alias("id_b"), F.col("y.simhash").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _ordered_shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int):
    """Shared build stage of the prefix-filter joins: (id, h) distinct
    shingle rows plus each doc's shingle array in the rarest-first
    global order (ascending corpus frequency, hash), with its size.
    One definition so the Jaccard and containment joins can never
    silently disagree on the ordering the prefix theorem depends on.
    The sets frame is persisted via the tracked cache (it feeds the
    prefix explode AND the verify sides; caller releases)."""
    from data_integration_case_study_spark.operators import cache

    toks = tokenize(F.col(text_col))
    sh_rows = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.transform(word_ngrams(toks, n), lambda s: hash60(s))
            )
        ).alias("h"),
    )
    freq = sh_rows.groupBy("h").agg(F.count(F.lit(1)).alias("hf"))
    sets = (
        sh_rows.join(freq, "h")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("hf"), F.col("h")))
                ),
                lambda s: s["h"],
            ).alias("sh")
        )
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") > 0)
    )
    return sh_rows, cache.track(sets)


def _prefix_len(threshold: float):
    """|S| - ceil(t*|S|) + 1 — the prefix-filter bound shared by both
    prefix joins."""
    return F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1


def jaccard_join_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (SSJoin /
    PPJoin family, Chaudhuri et al. 2006): every pair of documents whose
    word-n-gram-shingle sets have Jaccard >= ``threshold`` — complete
    recall, unlike MinHash banding, with the quadratic pair space pruned
    by a THEOREM instead of a probability:

        order each doc's distinct shingle hashes by a GLOBAL total order
        and keep only the first  |S| - ceil(t*|S|) + 1  of them (the
        "prefix"). Two sets sharing NO prefix element cannot reach
        Jaccard t, so the candidate join on prefix elements misses
        nothing — the theorem holds for ANY global order.

    The order used is (ascending corpus frequency, hash): rarest
    shingles first — the production refinement that keeps the heaviest
    shingles OUT of prefixes, so the candidate join's fan-out is bounded
    by the frequency of RARE elements instead of boilerplate shingles
    every doc shares. Frequency is computed from the data (one
    vocabulary-sized agg + an equi-join back), so the order — and the
    result — stays a deterministic function of the corpus.

    Shape: one shingle pass -> (id, h) distinct rows -> frequency join ->
    per-doc frequency-ordered array (one agg) -> prefix explode (a
    t-fraction of shingles) -> equi-join on the shingle hash -> distinct
    pairs -> O(|S|) exact verify per pair with array_intersect on the
    compact long arrays. All equi-join/agg, no all-pairs stage.

    Complements :func:`minhash_candidate_pairs`: same question, exact
    answer — the verification-tier operator you run on the cluster when
    a legal/eval pipeline cannot tolerate LSH false negatives. The
    oracle twin is DEFINITIONAL (shared-shingle join + exact Jaccard,
    no prefix logic), so its green row proves the pruning lossless."""
    _, sets = _ordered_shingle_sets(df, id_col, text_col, n)
    plen = _prefix_len(threshold)
    prefix = sets.select(
        "id", F.explode(F.slice("sh", F.lit(1), plen)).alias("h")
    )
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "h")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    s = sets.select("id", "sh", "sz")
    verify = (
        cand.join(
            s.select(
                F.col("id").alias("id_a"),
                F.col("sh").alias("sh_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            s.select(
                F.col("id").alias("id_b"),
                F.col("sh").alias("sh_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
    )
    return verify.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def containment_join_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """EXACT asymmetric CONTAINMENT self-join via prefix filtering:
    every DIRECTED pair (src, dst) where containment
    C(src, dst) = |S_src ∩ S_dst| / |S_src| >= ``threshold`` over word-
    n-gram shingle sets — "src is (mostly) inside dst". The subset/
    quote/expansion detector Jaccard misses by construction: a paragraph
    fully quoted inside a 10x longer article has tiny Jaccard but
    containment ~1. This is the dedup decision crawl pipelines want for
    near-SUBSET documents (keep the superset, drop the contained).

    Prefix theorem, asymmetric form: order shingles by a global total
    order; if src shares NONE of its first |S| - ceil(t*|S|) + 1
    shingles with dst then |intersection| < t*|S|, so probing src
    PREFIXES against dst's FULL posting list misses nothing. Only the
    probe side prunes — the containing side must index every shingle
    (it can be arbitrarily larger than src); that asymmetry is inherent
    to containment, not a loss (the posting list is the same (id, h)
    table the shingle pass already built).

    Shape: shingle pass -> frequency join (rarest-first order, the
    SAME `_ordered_shingle_sets` build as :func:`jaccard_join_prefix`)
    -> prefix explode (probe) equi-joined against the full shingle
    rows (build) -> distinct directed candidates -> O(|S|) exact
    verify per pair. All equi-join/agg; fan-out bounded by
    rare-shingle frequencies. Oracle twin is definitional
    (shared-shingle join + exact containment, no prefix logic),
    proving the pruning lossless."""
    sh_rows, sets = _ordered_shingle_sets(df, id_col, text_col, n)
    plen = _prefix_len(threshold)
    prefix = sets.select(
        "id", F.explode(F.slice("sh", F.lit(1), plen)).alias("h")
    )
    cand = (
        prefix.alias("x")
        .join(sh_rows.alias("y"), "h")
        .filter(F.col("x.id") != F.col("y.id"))
        .select(F.col("x.id").alias("src_id"), F.col("y.id").alias("dst_id"))
        .distinct()
    )
    s = sets.select("id", "sh", "sz")
    verify = (
        cand.join(
            s.select(
                F.col("id").alias("src_id"),
                F.col("sh").alias("sh_s"),
                F.col("sz").alias("sz_s"),
            ),
            "src_id",
        )
        .join(
            s.select(F.col("id").alias("dst_id"), F.col("sh").alias("sh_d")),
            "dst_id",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_s", "sh_d")))
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.col("sz_s").cast("double"),
        )
    )
    return verify.filter(F.col("containment") >= threshold).select(
        "src_id", "dst_id", "n_common", "containment"
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    block_col: str,
    window: int = 10,
) -> DataFrame:
    """Sorted-neighborhood ER candidate generation (Hernandez & Stolfo
    1995): within each block, sort records by the key and pair every
    record with its next ``window`` neighbors in sort order — the classic
    RECALL-BOUNDED blocking method that trades the exact candidate
    cover's key explosion (cf. the wildcard/deletion keys in
    plans/integration_queries) for |block|·w candidates and a tunable
    miss rate (true pairs sorting further than w apart are not emitted;
    production runs multiple passes with different sort keys and unions
    the candidates).

    Scale shape: windows are PER BLOCK (partitioned row_number — never a
    single-partition global sort), and the neighbor pairing is an
    equi-join on the target rank (each record explodes to its w
    successor ranks), so a b-member block costs b·w join rows, never b².
    Returns (id_a, id_b, key_a, key_b) candidates; callers verify with
    their match rule (levenshtein, Jaccard, ...)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("key"),
        F.col(block_col).alias("block"),
    )
    w = Window.partitionBy("block").orderBy(F.col("key").asc(), F.col("id").asc())
    ranked = base.withColumn("__r", F.row_number().over(w))
    probes = ranked.select(
        F.col("id").alias("id_a"),
        F.col("key").alias("key_a"),
        "block",
        F.explode(
            F.sequence(F.col("__r") + 1, F.col("__r") + window)
        ).alias("__r"),
    )
    return probes.join(
        ranked.select(
            F.col("id").alias("id_b"), F.col("key").alias("key_b"),
            "block", "__r",
        ),
        ["block", "__r"],
    ).select("id_a", "id_b", "key_a", "key_b", "block")


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    max_chars: int = 400,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS scheme): hash every character k-gram of the
    normalized text, then from each window of ``w`` consecutive k-gram
    hashes select the minimum (rightmost position on ties). The
    guarantee the scheme is chosen for: any shared substring of length
    >= k + w - 1 between two documents yields at least one SHARED
    selected fingerprint, while only ~2/(w+1) of positions are kept —
    local, deterministic document sketches for substring-level overlap
    detection, the gap MinHash (bag-of-shingles) and SimHash (global
    bit vote) both leave open.

    Returns (id, fp_pos, fp_h) — the selected fingerprint set.

    Shape: ENTIRELY MAP-ONLY — gram hashing, the per-window minimum,
    and the per-document dedup all run inside array expressions on the
    document row (the text is touched once; windows never become rows),
    and the only row expansion is the final explode of the <= 2n/(w+1)
    selected fingerprints. Zero shuffles, zero cross-document traffic;
    pair-finding over the emitted fingerprints is a plain equi-join on
    fp_h downstream.

    Tie-break portability: each window picks
    ``min(h * w + (w-1 - offset))`` — the arithmetic encoding makes
    "min hash, then rightmost" a single integer MIN any engine replays;
    h < 2^60 keeps h*w inside BIGINT, and the decode is shift/mask, so
    w must be a power of two in [1, 8]."""
    if w not in (1, 2, 4, 8):
        raise ValueError("w must be a power of two in [1, 8]")
    shift = w.bit_length() - 1
    t = F.substring(normalize_text(F.col(text_col)), 1, max_chars)
    n_grams = F.length("__t") - F.lit(k) + 1
    base = (
        df.select(F.col(id_col).alias("id"), t.alias("__t"))
        .filter(F.length("__t") >= F.lit(k))
        .select(
            "id",
            "__t",
            F.greatest(n_grams - F.lit(w - 1), F.lit(1)).alias("__maxj"),
        )
    )
    # hash every k-gram INSIDE one array transform, so the document text
    # is touched once per document — exploding (pos, text) first would
    # duplicate the string into every gram row (len(text)^2 bytes/doc of
    # memory traffic for zero information)
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.length("__t") - F.lit(k) + 1),
        lambda p: hash60(F.col("__t").substr(p, F.lit(k))),
    )
    hs = base.select("id", "__maxj", gram_hashes.alias("__hs"))
    # per window start j (1-based): min over the w encoded candidates
    # h[j+off]*w + (w-1-off); element_at past the array end is null and
    # least() skips nulls (only reachable when n_grams < w, where the
    # single window spans the whole short document)
    def _enc(j):
        cands = [
            F.element_at(F.col("__hs"), (j + F.lit(off)).cast("int"))
            * F.lit(w)
            + F.lit(w - 1 - off)
            for off in range(w)
        ]
        # least() requires >= 2 args; w=1 windows have a single candidate
        return cands[0] if w == 1 else F.least(*cands)

    encs = F.transform(F.sequence(F.lit(1), F.col("__maxj")), _enc)
    # decode each window's pick to (fp_pos, fp_h) and dedup WITHIN the
    # document via array_distinct — the global distinct is per-document
    # anyway, so no shuffle is ever needed
    fps = F.array_distinct(
        F.transform(
            encs,
            lambda e, i: F.struct(
                (i + F.lit(w) - e.bitwiseAND(F.lit(w - 1))).alias("fp_pos"),
                F.shiftright(e, shift).alias("fp_h"),
            ),
        )
    )
    return hs.select("id", F.explode(fps).alias("__fp")).select(
        "id", F.col("__fp.fp_pos").alias("fp_pos"), F.col("__fp.fp_h").alias("fp_h")
    )

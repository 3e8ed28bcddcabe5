"""Similarity search over embedding columns (SURVEY.md §2.9).

Baseline: exhaustive cosine top-k, every (query, candidate) pair scored
in one broadcast nested-loop join by an O(d) exact fold per pair (each
product snapped to the 2^-40 grid and summed as an integer decimal, so
values are order-independent and oracle-checkable bit-for-bit). Scale
path: random-hyperplane LSH bucketing that prunes the candidate set
before the same exact re-rank; at 1B+ vectors the bucket join replaces
the full cross score, same as MinHash replaces all-pairs Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.vector import (
    adaptive_n_planes,
    random_hyperplane_signature,
)
from data_integration_case_study_spark.operators import cache

# Exact cross-engine accumulation: products are snapped to a 2^-40 binary
# grid with floor(x*2^40 + 0.5) — deterministic round-half-up in every
# engine — giving INTEGRAL doubles below 2^53 (Spark's double→decimal cast
# goes through Java's shortest-string repr and diverges from the exact
# binary value above that), summed exactly as DECIMAL(38,0).
_GRID = float(1 << 40)


def _exact_sum_of_products(x, y):
    from pyspark.sql import functions as _F

    snapped = _F.floor(x * y * _F.lit(_GRID) + _F.lit(0.5)).cast("decimal(38,0)")
    return _F.sum(snapped).cast("double") / _F.lit(_GRID)


def _exact_dot_cols(x: str, y: str) -> Column:
    """Array-native twin of :func:`_exact_sum_of_products`: the exact
    grid-snapped dot product of two array columns, named ``x`` and
    ``y``, as a single O(d) zip_with + aggregate fold — identical values
    (each product snaps to the same 2^-40 grid and integers add exactly,
    so fold order is irrelevant), but evaluated per PAIR ROW instead of
    per exploded component row. Every exact cosine in this module (brute
    force, the LSH, IVF and near-dup re-ranks, the kNN graph) scores its
    pairs this way: a pair is 1 row of 2 vectors instead of d component
    rows, with no groupBy at all. The fold is interpreted (lambda
    evaluation), so the decimal accumulator is not its cost — a double
    accumulator measured slower, not faster.

    The fold is written as one SQL expression: built through the Column
    API it takes ~30 ms of py4j round trips per call, parsed ~0.3 ms (on
    a 4-vCPU VM), and both analyze to the same plan."""
    return F.expr(
        f"CAST(aggregate(zip_with(`{x}`, `{y}`, (a, b) -> CAST(floor("
        f"CAST(a AS DOUBLE) * CAST(b AS DOUBLE) * {_GRID!r}D + 0.5D) AS DECIMAL(38,0))), "
        f"CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) AS DOUBLE) / {_GRID!r}D"
    )


def _exact_norm_col(v: str) -> Column:
    """Map-only L2 norm of the array column named ``v`` on the exact
    grid (no explode, no groupBy). Null when any component is null."""
    return F.sqrt(_exact_dot_cols(v, v))


# Message prefix of the one error the exact re-rank paths raise on
# degenerate input (see _rerank_side and _pair_cosine).
DEGENERATE_VECTOR = "DEGENERATE_VECTOR"


def _degenerate(*parts: str) -> str:
    """SQL that fails the job with a :data:`DEGENERATE_VECTOR` message
    concatenated from ``parts`` (SQL string expressions). The checks are
    SQL text for the same reason as :func:`_exact_dot_cols`."""
    return f"raise_error(concat('{DEGENERATE_VECTOR}: ', {', '.join(parts)}))"


def _rerank_side(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    """One side of an exact cosine re-rank: (<prefix>_id, <prefix>_v,
    <prefix>_norm), the norm computed once per vector.

    Null vectors are dropped. A null component (it makes the norm fold
    null) or a zero norm fails the job with :data:`DEGENERATE_VECTOR`,
    checked once per vector inside the plan. The check reads the norm
    from a second projection so the fold is evaluated once, not once per
    CASE branch."""
    i, v, n = f"{prefix}_id", f"{prefix}_v", f"{prefix}_norm"
    side = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias(i),
        F.col(vec_col).alias(v),
        _exact_norm_col(vec_col).alias(n),
    )
    who = f"'{id_col} ', CAST({i} AS STRING)"
    null_part = _degenerate(who, "' has a null component'")
    zero_norm = _degenerate(who, "' has a zero norm'")
    return side.select(i, v, F.expr(
        f"CASE WHEN {n} IS NULL THEN {null_part} "
        f"WHEN {n} = 0 THEN {zero_norm} ELSE {n} END"
    ).alias(n))


def _pair_cosine() -> Column:
    """Exact cosine of a joined pair row carrying (q_id, q_v, q_norm) and
    (c_id, c_v, c_norm). A width mismatch fails the job with
    :data:`DEGENERATE_VECTOR` (zip_with would pad with nulls)."""
    width = _degenerate(
        "'q_id ', CAST(q_id AS STRING), ' has width ', CAST(size(q_v) AS STRING)",
        "', c_id ', CAST(c_id AS STRING), ' has width ', CAST(size(c_v) AS STRING)",
    )
    return F.when(F.expr("size(q_v) != size(c_v)"), F.expr(width)).otherwise(
        _exact_dot_cols("q_v", "c_v") / (F.col("q_norm") * F.col("c_norm"))
    )


def _topk_per_query(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """Top-k (q_id, c_id, <score>, rank) per query, ties broken by c_id."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", score, "rank")
    )


def _exploded(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, pos, val-as-double) rows from an array column."""
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))


def _fixed_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from the first row (None on an empty frame) — the
    cheap probe that unlocks the literal-hyperplane signature path
    (functions/vector._plane_dot: hyperplanes precomputed driver-side,
    no per-row sha256). Embedding corpora are fixed-width by contract;
    a row with a different width fails loudly in the signature guard."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else row["d"]


def _count_and_dim(df: DataFrame, vec_col: str) -> tuple[int, int | None]:
    """Corpus row count AND vector width in ONE action (one aggregation
    job instead of the count + first pair — on a large un-cached source
    each of those is a full scan queued before the real query runs)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("d"),
    ).first()
    return (row["n"], row["d"]) if row["n"] else (0, None)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    Dataflow: each side becomes (id, vector, norm) rows, the norm folded
    once per vector → one broadcast nested-loop join (the query side is
    tiny) scores every (query, candidate) pair with one O(d) exact fold
    (:func:`_exact_dot_cols`) → per-query top-k window. No explode and
    no aggregation: the only shuffle is the k-row-per-query window.

    Input contract: null vectors are dropped; a null component, a zero
    norm or two vectors of different widths fail the job with
    :data:`DEGENERATE_VECTOR`."""
    q = _rerank_side(queries, id_col, vec_col, "q")
    c = _rerank_side(corpus, id_col, vec_col, "c")
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("c_id")).select(
        "q_id", "c_id", _pair_cosine().alias("cosine")
    )
    return _topk_per_query(scored, k)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets prune candidates, then
    exact cosine re-ranks within the matching bucket(s).

    With b planes the corpus splits into 2^b buckets; a query scores its
    own bucket (~N/2^b candidates). ``probe_bits`` > 0 turns on
    multi-probe: the query ALSO searches the buckets whose signature
    differs in one of the first ``probe_bits`` bits — the classic recall
    lever (a near neighbor on the wrong side of one hyperplane is found
    in the 1-bit-flip bucket) that multiplies candidates by probe_bits+1
    instead of forcing fewer planes / bigger buckets. Scale: signatures
    are map-only; probing explodes only the tiny query side; the bucket
    join stays an equi-join. sha256-derived signatures plus the exact
    decimal re-rank keep every variant oracle-checkable."""
    sig = random_hyperplane_signature(
        F.col(vec_col), n_planes, seed, dim=_fixed_dim(corpus, vec_col)
    )
    # The corpus side stays put (bucket + vector + map-only norm); the
    # tiny query side carries its vector through the probe explosion and
    # broadcasts, so the whole operator is ONE broadcast-hash join with
    # the exact O(d) dot folded per candidate row (_exact_dot_cols) —
    # no exploded per-component join, no norm shuffle.
    c_sig = corpus.select(
        F.col(id_col).alias("c_id"),
        sig.alias("bucket"),
        F.col(vec_col).alias("c_v"),
        _exact_norm_col(vec_col).alias("c_norm"),
    )
    q_base = queries.select(
        F.col(id_col).alias("q_id"),
        sig.alias("__sig"),
        F.col(vec_col).alias("q_v"),
        _exact_norm_col(vec_col).alias("q_norm"),
    )
    masks = [0] + [1 << i for i in range(min(probe_bits, n_planes))]
    q_sig = q_base.select(
        "q_id", "q_v", "q_norm",
        F.explode(
            F.array(*[F.col("__sig").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    scored = (
        c_sig.join(F.broadcast(q_sig), "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", _pair_cosine().alias("cosine"))
    )
    return _topk_per_query(scored, k)


def topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    mode: str = "auto",
    brute_force_limit: int = 100_000,
    n_planes: int = 8,
    probe_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """The similarity-join STRATEGY (SURVEY §4's candidate custom work):
    dispatch brute-force vs LSH from the corpus size.

    ``mode='auto'`` counts the corpus once (a metadata-cheap count on
    parquet sources) and picks exhaustive scoring below
    ``brute_force_limit`` — where exact recall costs less than the LSH
    setup — and the multi-probe hyperplane path above it, where O(N·Q·d)
    scoring stops being a job anyone waits for. This is a library-level
    rewrite, deliberately NOT a Catalyst rule: the decision needs a
    cardinality the optimizer already exposes, and a function keeps the
    choice testable and overridable (``mode='brute'|'lsh'``)."""
    if mode == "auto":
        mode = "brute" if corpus.count() <= brute_force_limit else "lsh"
    if mode == "brute":
        return cosine_topk_bruteforce(corpus, queries, id_col, vec_col, k)
    if mode == "lsh":
        return ann_lsh_topk(
            corpus, queries, id_col, vec_col, k,
            n_planes=n_planes, seed=seed, probe_bits=probe_bits,
        )
    raise ValueError(f"unknown mode {mode!r} (auto|brute|lsh)")


def _assign_cells(
    exploded: DataFrame, cent_exploded: DataFrame, cent_norms: DataFrame,
    id_col: str, top_cells: int,
) -> DataFrame:
    """Rank cells per vector by dot/centroid-norm (vector's own norm is
    constant within its argmax, so it cancels); keep the top ``top_cells``."""
    dots = (
        exploded.join(F.broadcast(cent_exploded), "pos")
        .groupBy(id_col, "cell")
        .agg(_exact_sum_of_products(F.col("val"), F.col("c_val")).alias("dot"))
        .join(F.broadcast(cent_norms), "cell")
        .withColumn("score", F.col("dot") / F.col("cell_norm"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("cell"))
    return (
        dots.withColumn("__cr", F.row_number().over(w))
        .filter(F.col("__cr") <= top_cells)
        .select(id_col, "cell")
    )


def _seed_centroids(df: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """The ``n`` lowest-id vectors as long-form (cell, pos, c_val)
    centroids — the seeded, RNG-free init every engine reproduces."""
    return _exploded(df.filter(F.col(id_col) < n), id_col, vec_col).select(
        F.col("id").alias("cell"), "pos", F.col("val").alias("c_val")
    )


def _cell_norms(ce: DataFrame) -> DataFrame:
    return ce.groupBy("cell").agg(
        F.sqrt(_exact_sum_of_products(F.col("c_val"), F.col("c_val"))).alias("cell_norm")
    )


def _ivf_candidates(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    ce: DataFrame, nprobe: int,
) -> DataFrame:
    """Distinct (q_id, c_id) pairs sharing a cell: each corpus vector sits
    in its nearest cell, each query probes its ``nprobe`` nearest; self
    pairs dropped. ``ce``: long-form (cell, pos, c_val) centroids."""
    cn = _cell_norms(ce)
    corp_cells = _assign_cells(_exploded(corpus, id_col, vec_col), ce, cn, "id", 1)
    qry_cells = _assign_cells(_exploded(queries, id_col, vec_col), ce, cn, "id", nprobe)
    return (
        qry_cells.select(F.col("id").alias("q_id"), "cell")
        .join(corp_cells, "cell")
        .select("q_id", F.col("id").alias("c_id"))
        .filter(F.col("q_id") != F.col("c_id"))
        .distinct()
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the training step that
    upgrades :func:`ivf_topk`'s seed cells to trained cells.

    Deterministic by construction, so a fixed-iteration unrolled SQL
    oracle reproduces it bit-for-bit: init = the k lowest-id vectors
    (seeded, no RNG); assignment = cosine argmax (the vector's own norm
    cancels inside its argmax, so score = dot / centroid_norm on the
    2^-40 exact grid); update = per-dimension decimal-exact mean (float32
    inputs scaled by 2^48 are integral doubles, so the decimal cast is
    exact in every engine; the raw vectors — not prior-round centroids —
    feed every mean). Assignment ties break to the lowest cell id; a cell
    that loses every member drops out (k shrinks) — both rules
    deterministic in any engine.

    Each round is one broadcast join + two aggs over the exploded corpus;
    per-round lineage is truncated like ``graph.connected_components``
    (``cache.truncate``). Returns trained centroids in long form
    (cell, pos, val, members)."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = _exploded(df, id_col, vec_col)
    cents = _seed_centroids(df, id_col, vec_col, k)
    scale = float(1 << 48)
    assign = None
    for _ in range(n_iter):
        assign = _assign_cells(e, cents, _cell_norms(cents), "id", 1)
        cents = cache.truncate(
            e.join(assign, "id")
            .groupBy("cell", "pos")
            .agg(
                (
                    (
                        F.sum((F.col("val") * F.lit(scale)).cast("decimal(38,0)")).cast("double")
                        / F.lit(scale)
                    )
                    / F.count("val")
                ).alias("c_val")
            )
        )
    members = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("members"))
    return cents.join(members, "cell").select(
        "cell", "pos", F.col("c_val").alias("val"), "members"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into cells around centroids,
    assign each vector to its nearest cell, and answer queries by exact
    search within their ``nprobe`` nearest cells.

    ``centroids``: long-form trained centroids — (cell, pos, val[, ...])
    exactly as :func:`kmeans_centroids` returns them, or (cell, pos,
    c_val); extra columns are ignored. When None, the ``n_cells``
    lowest-id corpus vectors seed the cells (the reproducible oracle
    twin of the trained path).

    Scale shape: centroids are broadcast (tiny); assignment is a map-side
    join + one agg; the search join hits ~nprobe/n_cells of the corpus,
    and each candidate pair is re-ranked by one O(d) exact fold against
    the corpus vector and norm (query side broadcast). Fully
    deterministic → oracle-checkable end to end, unlike the hash-based
    LSH path. The re-rank has :func:`cosine_topk_bruteforce`'s input
    contract (:data:`DEGENERATE_VECTOR`)."""
    if centroids is None:
        ce = _seed_centroids(corpus, id_col, vec_col, n_cells)
    else:
        vcol = "c_val" if "c_val" in centroids.columns else "val"
        ce = centroids.select(
            "cell", "pos", F.col(vcol).cast("double").alias("c_val")
        )
    cand = _ivf_candidates(corpus, queries, id_col, vec_col, ce, nprobe)
    # exact re-rank: each candidate pair carries both whole vectors and
    # norms and folds its dot once (_pair_cosine) — no per-component rows
    scored = (
        cand.join(_rerank_side(corpus, id_col, vec_col, "c"), "c_id")
        .join(F.broadcast(_rerank_side(queries, id_col, vec_col, "q")), "q_id")
        .select("q_id", "c_id", _pair_cosine().alias("cosine"))
    )
    return _topk_per_query(scored, k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sub_dim: int = 8,
    n_codes: int = 8,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN (asymmetric distance computation) — the
    memory-bound 100 TB complement to :func:`ivf_topk`'s compute pruning.

    The vector space is split into ``d / sub_dim`` subspaces; each
    subspace gets a codebook of ``n_codes`` codewords and every corpus
    vector is encoded as one codeword id per subspace (argmin L2, ties to
    the lowest codeword id). A query never touches the corpus vectors:
    it computes a per-subspace dot-product table against the codebooks
    (m × n_codes entries) and scores every candidate as the sum of table
    lookups over its code — at a billion vectors the corpus state the
    search reads is the code matrix (m bytes/vector), not the raw floats.

    ``codebooks``: long-form (j, pos, c_val) codeword components — pass a
    trained table (e.g. per-subspace k-means means relabeled to codeword
    ids) to upgrade the quantizer, exactly as ``ivf_topk(centroids=...)``
    upgrades the cells. When None, codewords are seeded from the
    ``n_codes`` lowest-id corpus vectors — deterministic, the same
    oracle-twin convention as :func:`ivf_topk`'s seed centroids. All
    arithmetic on the 2^-40 exact grid, so encoding, tables, and ADC
    scores reproduce bit-for-bit in any engine. Returns
    (q_id, c_id, approx_dot, rank).

    Scale shape: codebooks are tiny and broadcast everywhere; encoding is
    one broadcast join + agg over the exploded corpus (map-side);
    scoring joins the m-row-per-vector code table against the
    m × n_codes query table — no raw-vector shuffle anywhere."""
    e = _pq_exploded(corpus, id_col, vec_col, sub_dim, "id")
    if codebooks is not None:
        cb = codebooks.select(
            "j", "pos", F.col("c_val").cast("double").alias("c_val")
        )
    else:
        cb = e.filter(F.col("id") < n_codes).select(
            F.col("id").alias("j"), "pos", F.col("val").alias("c_val")
        )
    codes = _pq_codes(e, cb)
    qtab = _pq_query_table(
        _pq_exploded(queries, id_col, vec_col, sub_dim, "q_id"), cb
    )
    scored = (
        codes.join(F.broadcast(qtab), ["s", "j"])
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(_pq_adc_sum().alias("approx_dot"))
    )
    return _topk_per_query(scored, k, "approx_dot")


def _pq_exploded(df: DataFrame, id_col: str, vec_col: str, sub_dim: int,
                 out_id: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id), F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double")) \
     .withColumn("s", F.floor(F.col("pos") / sub_dim))


def _pq_codes(e: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode each vector: per subspace, the L2-argmin codeword id (grid-
    exact distances, ties to the lowest id). Returns (c_id, s, j)."""
    dist2 = F.floor(
        (F.col("val") - F.col("c_val")) * (F.col("val") - F.col("c_val"))
        * F.lit(_GRID) + F.lit(0.5)
    ).cast("decimal(38,0)")
    enc = (
        e.join(F.broadcast(cb), "pos")
        .groupBy("id", "s", "j")
        .agg((F.sum(dist2).cast("double") / F.lit(_GRID)).alias("dist"))
    )
    w_enc = Window.partitionBy("id", "s").orderBy("dist", "j")
    return (
        enc.withColumn("__r", F.row_number().over(w_enc))
        .filter(F.col("__r") == 1)
        .select(F.col("id").alias("c_id"), "s", "j")
    )


def _pq_query_table(qe: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-query ADC lookup table: exact dot of every query against every
    codeword per subspace. Returns (q_id, s, j, pdot)."""
    return (
        qe.join(F.broadcast(cb), "pos")
        .groupBy("q_id", "s", "j")
        .agg(_exact_sum_of_products(F.col("val"), F.col("c_val")).alias("pdot"))
    )


def _pq_adc_sum() -> Column:
    # pdot is an exact multiple of 2^-40, so pdot * 2^40 is an integral
    # double — the decimal re-sum keeps the m-term ADC total exact too
    return (
        F.sum((F.col("pdot") * F.lit(_GRID)).cast("decimal(38,0)")).cast("double")
        / F.lit(_GRID)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    sub_dim: int = 8,
    n_codes: int = 8,
) -> DataFrame:
    """IVF × PQ — the production composition: IVF cells prune COMPUTE
    (queries only score candidates from their ``nprobe`` nearest cells),
    PQ codes prune MEMORY (candidates are scored by ADC table lookups
    over their code matrix, never their raw floats). At a billion
    vectors this is the standard serving shape (an IVF-PQ index): the
    search touches ~nprobe/n_cells of the corpus, and what it touches
    is bytes per vector.

    Same deterministic conventions as the parts: seed centroids
    (lowest-id vectors) for the cells, seed codebooks for the
    subspaces, grid-exact arithmetic throughout — so the composition is
    oracle-checkable end to end like each part alone. Returns
    (q_id, c_id, approx_dot, rank) with ADC-approximate scores."""
    # IVF half: seed cells, nprobe-cell candidate pairs
    cand = _ivf_candidates(
        corpus, queries, id_col, vec_col,
        _seed_centroids(corpus, id_col, vec_col, n_cells), nprobe,
    )
    # PQ half: encode the corpus, table the queries, ADC-score candidates
    e = _pq_exploded(corpus, id_col, vec_col, sub_dim, "id")
    cb = e.filter(F.col("id") < n_codes).select(
        F.col("id").alias("j"), "pos", F.col("val").alias("c_val")
    )
    codes = _pq_codes(e, cb)
    qtab = _pq_query_table(
        _pq_exploded(queries, id_col, vec_col, sub_dim, "q_id"), cb
    )
    scored = (
        cand.join(codes, "c_id")
        .join(F.broadcast(qtab), ["q_id", "s", "j"])
        .groupBy("q_id", "c_id")
        .agg(_pq_adc_sum().alias("approx_dot"))
    )
    return _topk_per_query(scored, k, "approx_dot")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
    block_window: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key — the
    fifth dedup strategy (SURVEY §2.9). Attribute blocking is the
    oracle-friendly TEACHING form: a block grows linearly with the
    corpus, so at scale use :func:`embedding_neardup_pairs_lsh`, whose
    hyperplane buckets keep block size ~N/2^b regardless of N.

    Plan (round 8 — the round-7 sf1 audit timed out the old exploded
    per-component join): each candidate pair scores its dot in a single
    O(d) fold (:func:`_exact_dot_cols`, bit-identical grid-snapped
    decimal sum), so the pair join shuffles 1 row of 2 vectors instead
    of d component rows — a factor-of-d shuffle cut, same values.
    ``block_window=W`` additionally bounds a linearly-growing block the
    same way ``bucket_window`` bounds degenerate LSH buckets in
    :func:`dedup.minhash_candidate_pairs`: each vector is compared only
    with its W id-ordered successors inside its block (b·W pairs, not
    b²/2; duplicate clusters survive via successor chaining). The rank
    comes from :func:`dedup.blocked_rank` — bounded-cardinality blocks
    must not become one whole-block window sort. ``None`` keeps the
    exhaustive in-block semantics."""
    from data_integration_case_study_spark.operators.dedup import blocked_rank

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        _exact_norm_col(vec_col).alias("nrm"),
    )
    if block_window is None:
        a = base.select(
            F.col("id").alias("id_a"), "block",
            F.col("v").alias("va"), F.col("nrm").alias("norm_a"),
        )
        b = base.select(
            F.col("id").alias("id_b"), "block",
            F.col("v").alias("vb"), F.col("nrm").alias("norm_b"),
        )
        scored = a.join(b, "block").filter(F.col("id_a") < F.col("id_b"))
    else:
        base = cache.track(base)
        ranked = blocked_rank(base.select("id", "block"), "block", "id")
        # repartition after the W-way explode — see dedup.ngram_jaccard_
        # pairs: AQE coalesces the tiny ranked shuffle to ~1 partition
        # and the broadcast-only downstream would single-task the verify
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
        scored = cand.join(
            base.select(
                F.col("id").alias("id_a"),
                F.col("v").alias("va"), F.col("nrm").alias("norm_a"),
            ),
            "id_a",
        ).join(
            base.select(
                F.col("id").alias("id_b"),
                F.col("v").alias("vb"), F.col("nrm").alias("norm_b"),
            ),
            "id_b",
        )
    return (
        scored.withColumn(
            "cosine",
            _exact_dot_cols("va", "vb")
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "block", "cosine")
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    seed: int = 42,
    target_bucket_size: int = 16,
) -> DataFrame:
    """Embedding near-dup pairs blocked by the random-hyperplane LSH
    bucket — the 100 TB form of :func:`embedding_neardup_pairs`.

    The bucket replaces the data attribute as the blocking key, so block
    size is ~N/2^n_planes by construction (tunable), not corpus-linear.
    ``n_planes=None`` (the default) derives the plane count from the
    corpus size via :func:`functions.vector.adaptive_n_planes`
    (one metadata-cheap count), holding expected bucket population at
    ``target_bucket_size`` so the pair join stays ~linear as the corpus
    grows — a fixed plane count would re-quadratize it.
    Cost: high-cosine pairs land in the same bucket with probability
    (1 - θ/π)^n_planes (θ = angle), so a single-probe blocking trades a
    small recall loss for the bounded join — exactly the LSH contract.
    Same exact decimal scoring; sha256-derived buckets keep it
    oracle-checkable. Output block = the shared bucket id."""
    if n_planes is None:
        n, dim = _count_and_dim(df, vec_col)
        n_planes = adaptive_n_planes(n, target_bucket_size)
    else:
        dim = _fixed_dim(df, vec_col)
    sig = random_hyperplane_signature(F.col(vec_col), n_planes, seed, dim=dim)
    base = df.select(
        F.col(id_col).alias("id"),
        sig.alias("block"),
        F.col(vec_col).alias("v"),
        _exact_norm_col(vec_col).alias("nrm"),
    )
    # base feeds both pair sides; tracked persist
    # (operators.cache.release_tracked) — same contract as knn_graph
    base = cache.track(base)
    # One bucket-keyed self-join carrying whole vectors; each pair row
    # scores its dot in a single O(d) fold (see _exact_dot_cols — a
    # factor-of-d less shuffle than the exploded per-component join) and
    # norms ride along map-only from base, so the whole operator is one
    # Exchange on the bucket key.
    a = base.select(
        F.col("id").alias("id_a"), "block",
        F.col("v").alias("va"), F.col("nrm").alias("norm_a"),
    )
    b = base.select(
        F.col("id").alias("id_b"), "block",
        F.col("v").alias("vb"), F.col("nrm").alias("norm_b"),
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _exact_dot_cols("va", "vb")
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "block", "cosine")
    )


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int | None = None,
    seed: int = 42,
    target_bucket_size: int = 32,
) -> DataFrame:
    """Approximate k-NN GRAPH: every vector's top-k neighbors within its
    LSH bucket — the all-sources form of :func:`ann_lsh_topk` (which
    serves a small query set) and the substrate for graph-based corpus
    work: semantic clustering (connected components over the edges),
    diversity sampling, and kNN-density outlier pruning.

    Scale shape: signatures are map-only; the bucket-local pair join is
    Σ|bucket|² with |bucket| ~ N/2^n_planes by construction.
    ``n_planes=None`` (the default) derives the plane count from the
    corpus size (:func:`functions.vector.adaptive_n_planes`, one
    metadata-cheap count) so per-bucket work holds ~constant at
    ``target_bucket_size`` as N grows; a fixed plane count would make
    the pair join quadratic in N. The top-k cut is a per-source window
    over bucket-local candidates only. Vectors whose bucket holds no
    neighbor emit no edges — the documented recall trade; multi-probe or
    fewer planes raise recall exactly as in :func:`ann_lsh_topk`.

    Computes each unordered pair's exact decimal cosine ONCE, then
    mirrors the edge list before ranking (graph edges are directed:
    a→b and b→a rank independently in their source's top-k).

    The (id, block, vector) base is spread to the cluster parallelism
    BEFORE the signature map (a small parquet scans as 1-2 partitions,
    and the sha256-derived signature is the CPU-heavy step) and persisted
    (it feeds both pair sides and the norm agg — unpersisted, Spark
    recomputes the signatures for each read; cache lifecycle is
    caller-owned, same contract as the MinHash summaries)."""
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    if n_planes is None:
        n, dim = _count_and_dim(df, vec_col)
        n_planes = adaptive_n_planes(n, target_bucket_size)
    else:
        dim = _fixed_dim(df, vec_col)
    sig = random_hyperplane_signature(F.col(vec_col), n_planes, seed, dim=dim)
    base = spread_to_parallelism(df).select(
        F.col(id_col).alias("id"),
        sig.alias("block"),
        F.col(vec_col).alias("v"),
        _exact_norm_col(vec_col).alias("nrm"),
    )
    # cache lifecycle is caller-owned (spark.catalog.clearCache between
    # pipeline stages, or operators.cache.release_tracked() for library
    # sessions)
    base = cache.track(base)
    # Bucket-keyed self-join over whole vectors; each unordered pair is
    # scored once by a single O(d) fold (_exact_dot_cols) with both
    # norms riding along map-only — one Exchange on the bucket key,
    # a factor-of-d less shuffle than the exploded per-component join.
    a = base.select(
        F.col("id").alias("id_a"), "block",
        F.col("v").alias("va"), F.col("nrm").alias("norm_a"),
    )
    b = base.select(
        F.col("id").alias("id_b"), "block",
        F.col("v").alias("vb"), F.col("nrm").alias("norm_b"),
    )
    scored = (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _exact_dot_cols("va", "vb")
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .select("id_a", "id_b", "cosine")
    )
    edges = scored.select(
        F.col("id_a").alias("src_id"), F.col("id_b").alias("nbr_id"), "cosine"
    ).unionByName(
        scored.select(
            F.col("id_b").alias("src_id"), F.col("id_a").alias("nbr_id"), "cosine"
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "nbr_id", "cosine", "rank")
    )

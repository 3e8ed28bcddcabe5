"""Graph operators: connected components for dedup clustering.

Near-dup detection (MinHash/SimHash/embedding) emits PAIRS; a dedup
pipeline needs GROUPS — "these 17 docs are all the same article" — which
is connected components over the pair graph, with the canonical doc = the
minimum id in each component (transitively: a~b and b~c cluster a,b,c even
if a~c was never emitted as a pair).

Algorithm: min-label propagation. Every node starts labeled with itself;
each round a node takes the min of its own and its neighbors' labels;
converges in O(component diameter) rounds. Each round is one join + one
groupBy — all DataFrame ops, executable on any cluster size. Iterative
DataFrame loops grow a linear lineage, so every round checkpoints to
truncate it — the standard Spark pattern for iterative algorithms
(GraphX/GraphFrames do the same internally). The per-round convergence
check is ONE driver-side count of changed labels — an O(rounds) sequence
of actions, not a per-row collect.

Every loop here truncates through :func:`operators.cache.truncate` and
pins its loop invariants with :func:`operators.cache.track`; whether
rounds are executor-local or reliable checkpoints is the session's
checkpoint directory, set once at session setup (see ``operators.cache``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_case_study_spark.operators import cache


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster the undirected pair graph; returns (id, cluster) where
    cluster is the component's minimum node id — deterministic and
    engine-independent, so a recursive-CTE oracle reproduces it.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = cache.truncate(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    labels = (
        edges.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    # Probe frequency was A/B-measured in r12 (guide §1): probing every
    # 2nd round (idempotent-at-fixpoint, so at most one extra no-op
    # round) halves the count jobs but measured a wash-to-slightly-WORSE
    # in alternating same-session A/B over the minhash pair substrate at
    # sf0.1 (every-round [4.63, 4.17] vs every-2nd [4.96, 5.49] s): the
    # probe is a cheap node-frame join while the wasted no-op round is a
    # full edge-propagation pass, and with lazy truncation the probe is
    # the only job per round anyway. Kept per-round.
    converged = False
    for _ in range(max_iter):
        neighbor_labels = edges.join(
            labels.withColumnRenamed("id", "b"), "b"
        ).select(F.col("a").alias("id"), "label")
        new_labels = cache.truncate(
            labels.unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "id")
            .filter(F.col("new_label") != F.col("label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # never hand back silently-partial clusters (SCALE.md: no silent
        # caps) — a component deeper than max_iter needs a bigger budget
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "rounds; raise max_iter (needed rounds = max component diameter)"
        )
    return labels.select("id", F.col("label").alias("cluster"))


def pagerank(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    rounds: int = 3,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-round PageRank over a directed edge list: the canonical
    iterative-dataflow operator (importance/centrality for graph-shaped
    corpora — citation ranking, link spam scoring, seed selection).

    Per round: one join of ranks onto edges (shuffle on src), one
    aggregation of contributions per destination (shuffle on dst), one
    left join back onto the node set so dangling-in nodes keep the
    teleport term. Mass from nodes WITHOUT out-edges is dropped (the
    simple variant; the dangling-mass redistribution term is a 1-row
    aggregate away and documented rather than implemented — it doubles
    the oracle size for no extra dataflow shape).

    Determinism: per-edge contributions accumulate via ``dsum``'s
    decimal-snap (scale 8), so each round's ranks are a pure function of
    the data under any partitioning, and a round-unrolled SQL oracle
    replays them exactly; fixed ``rounds`` (not convergence-tested)
    keeps that oracle finite. Node count enters as a broadcast 1-row
    aggregate — the plan stays one lazy DAG, no driver-side action.

    Each round's ranks are lineage-truncated (``cache.truncate``, the
    connected_components pattern): without it round r's plan re-executes
    rounds 1..r-1, turning a linear iteration quadratic.

    ``seeds`` (a one-column ``id`` frame) switches to PERSONALIZED
    PageRank: both the initial mass and the per-round teleport term are
    uniform over the seed SET instead of all nodes — proximity to the
    seeds, the recommendation / local-relevance form (random walk with
    restart). The seed indicator rides the node frame as a broadcast
    semi-structure; the round dataflow is unchanged."""
    from data_integration_case_study_spark.functions.numeric import dsum

    e = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    nodes = (
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
    )
    if seeds is not None:
        seed_ids = seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
        nodes = nodes.join(
            F.broadcast(seed_ids.withColumn("__seed", F.lit(1))), "id", "left"
        ).select("id", F.coalesce(F.col("__seed"), F.lit(0)).alias("__seed"))
        n_nodes = nodes.agg(
            F.sum("__seed").cast("double").alias("__n")
        )
        tele = F.col("__seed").cast("double")
    else:
        nodes = nodes.withColumn("__seed", F.lit(1))
        n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
        tele = F.lit(1.0)
    # LOOP-INVARIANT frames are persisted (tracked cache, caller releases):
    # each round's trunc/action is a separate query execution, and Spark
    # does not reuse exchanges ACROSS executions — unpersisted, the node
    # distinct and the out-degree aggregation re-execute every round
    # (r11 profile: rounds × 2 redundant shuffles on the pagerank family).
    nodes = cache.track(nodes)
    outdeg = cache.track(
        e.groupBy(F.col("s").alias("id")).agg(
            F.count(F.lit(1)).cast("double").alias("outdeg")
        )
    )
    pr = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "id", (tele / F.col("__n")).alias("pr")
    )
    # Trunc frequency was re-measured in r12 (guide §1): batching the
    # localCheckpoints to every 3rd round (the markov_attribution
    # pattern) won 30% on a SYNTHETIC pre-persisted edge list but
    # measured a wash-to-slightly-worse on the real knn_graph substrate
    # in alternating same-session A/B (old [10.2, 6.5] vs new
    # [12.7, 7.3] s at sf0.1) — the per-round trunc jobs serialize the
    # first materialization of the tracked-cache substrate, which the
    # single wide final execution otherwise races (concurrent stages
    # each computing the not-yet-cached InMemoryRelation). Kept
    # per-round.
    for _ in range(rounds):
        contribs = (
            e.join(pr.withColumnRenamed("id", "s"), "s")
            .join(outdeg.withColumnRenamed("id", "s"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(dsum(F.col("pr") / F.col("outdeg")).alias("m"))
        )
        pr = cache.truncate(
            nodes.join(contribs, "id", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * tele / F.col("__n")
                    + F.lit(damping) * F.coalesce(F.col("m"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select("id", "pr")


def hits(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
) -> DataFrame:
    """Fixed-round HITS (hubs & authorities) over a directed edge list —
    the mutual-reinforcement sibling of :func:`pagerank`: a good HUB
    points at good authorities, a good AUTHORITY is pointed at by good
    hubs. Two coupled half-updates per round, each L1-normalized:

        h_i = sum over edges i->j of a_j, then h := h / sum(h)
        a_j = sum over edges i->j of h_i, then a := a / sum(a)

    starting from a_0 = 1 on every node. Per half-round: one equi-join
    of scores onto edges, one per-endpoint aggregation, one left join
    back onto the node set (nodes with no in/out edges keep score 0),
    and a broadcast 1-row normalizer — the same bounded-shuffle shape
    as pagerank's rounds, lineage-truncated identically.

    Determinism: contributions and the normalizer both accumulate via
    decimal-snapped sums (scale 12 — L1-normalized scores are ~1/n, so
    the snap keeps ~7 significant digits even at million-node graphs),
    making each round a pure function of the data under any
    partitioning; fixed ``rounds`` keeps the round-unrolled SQL oracle
    finite. Returns (id, hub, authority)."""
    from data_integration_case_study_spark.functions.numeric import dsum

    e = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # loop-invariant node set, read by all 2*rounds half-updates — persist
    # (tracked cache) for the same cross-execution reuse reason as pagerank
    nodes = cache.track(
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
    )

    def _half(scores: DataFrame, col: str, edge_key: str, group_key: str, out: str):
        contrib = (
            e.join(scores.withColumnRenamed("id", edge_key), edge_key)
            .groupBy(F.col(group_key).alias("id"))
            .agg(dsum(F.col(col), scale=12).alias("__v"))
        )
        raw = nodes.join(contrib, "id", "left").select(
            "id", F.coalesce(F.col("__v"), F.lit(0.0)).alias("__v")
        )
        norm = raw.agg(dsum(F.col("__v"), scale=12).alias("__t"))
        return cache.truncate(
            raw.crossJoin(F.broadcast(norm)).select(
                "id", (F.col("__v") / F.col("__t")).alias(out)
            )
        )

    a = nodes.withColumn("a", F.lit(1.0))
    h = None
    for _ in range(rounds):
        # hub from current authorities (score lives on the edge's dst),
        # then authority from the fresh hubs (score on the edge's src)
        h = _half(a.select("id", "a"), "a", "d", "s", "h")
        a = _half(h.select("id", "h"), "h", "s", "d", "a")
    return h.join(a, "id").select(
        "id", F.col("h").alias("hub"), F.col("a").alias("authority")
    )


def kcore(
    pairs: DataFrame,
    k: int,
    rounds: int,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """k-core of the undirected pair graph via ``rounds`` FIXED peeling
    iterations: repeatedly delete every node with degree < k (and its
    edges); what survives is the maximal subgraph where everyone keeps
    >= k neighbors — the standard density filter that separates a
    graph's cohesive interior from its tree-like fringe (community
    cores, spam-farm detection, robust-seed selection over a kNN
    corpus graph).

    Returns (id, degree): surviving nodes with their degree INSIDE the
    core. Rounds are FIXED, not convergence-probed, so a round-unrolled
    SQL oracle replays the computation exactly; if ``rounds`` is below
    the peel depth both engines return the identical partial peel
    (tests assert the fixpoint is reached — one extra round changes
    nothing — so the catalog parametrization is the converged core).
    Per round: one degree aggregation + two semi-join-shaped filters of
    the edge list — all equi-joins on node id, lineage-truncated like
    every iterative loop here (``cache.truncate``)."""
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = cache.truncate(
        e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
    )
    for _ in range(rounds):
        keep = (
            edges.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") >= k)
            .select("a")
        )
        edges = cache.truncate(
            edges.join(keep, "a")
            .join(keep.withColumnRenamed("a", "b"), "b")
            .select("a", "b")
        )
    return edges.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )

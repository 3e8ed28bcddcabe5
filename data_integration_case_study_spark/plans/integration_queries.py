"""Oracle-paired integration queries (SURVEY.md §2.3, §2.5, Phase C).

Reference-shaped ``contacts``/``contracts``/``relations`` sources are
constructed deterministically from the star schema (same SQL text drives
Spark's ``F.expr`` and the DuckDB twin), then the engine's integration
operators run on them. A hash match on ``integration_entities`` proves the
whole pipeline — dual-format date unification, null-sentinel surrogate
keys, uniform endpoint dedup — not just one operator.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.entity import surrogate_key_sql
from data_integration_case_study_spark.operators import integrate
from data_integration_case_study_spark.sources.readers import (
    read_parquet_table,
    spread_to_parallelism,
)

# --- shared source constructions (valid in Spark SQL and DuckDB) -----------

_CONTACTS_SRC = """
SELECT 'NAME_' || CAST(c_custkey % 40 AS STRING) AS name,
       CASE WHEN c_custkey % 3 = 0 THEN NULL
            ELSE 'FN_' || CAST(c_custkey % 7 AS STRING) END AS first_name,
       CASE WHEN c_custkey % 3 = 0 THEN NULL
            ELSE lpad(CAST(c_custkey % 28 + 1 AS STRING), 2, '0') || '/' ||
                 lpad(CAST(c_custkey % 12 + 1 AS STRING), 2, '0') || '/19' ||
                 lpad(CAST(c_custkey % 100 AS STRING), 2, '0') END AS birthday,
       CASE WHEN c_custkey % 3 = 0 THEN 'PM' ELSE 'PF' END AS entity_type,
       'ADDR_' || CAST(c_custkey AS STRING) AS address
FROM customer
"""

_CONTRACTS_SRC = """
SELECT 'NAME_' || CAST(o_orderkey % 60 AS STRING) AS name,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE 'FN_' || CAST(o_orderkey % 7 AS STRING) END AS first_name,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE lpad(CAST(o_orderkey % 28 + 1 AS STRING), 2, '0') || '/' ||
                 lpad(CAST(o_orderkey % 12 + 1 AS STRING), 2, '0') || '/19' ||
                 lpad(CAST(o_orderkey % 100 AS STRING), 2, '0') END AS birthday,
       'CT_' || CAST(o_orderkey AS STRING) AS contract_number,
       o_totalprice AS value
FROM orders
"""

_RELATIONS_SRC = """
SELECT 'NAME_' || CAST(o_orderkey % 40 AS STRING) AS name_s,
       CASE WHEN o_orderkey % 11 = 0 THEN NULL
            ELSE 'FN_' || CAST(o_orderkey % 7 AS STRING) END AS first_name_s,
       CASE WHEN o_orderkey % 17 = 0 THEN NULL
            ELSE '19' || lpad(CAST(o_orderkey % 100 AS STRING), 2, '0') || '-' ||
                 lpad(CAST(o_orderkey % 12 + 1 AS STRING), 2, '0') || '-' ||
                 lpad(CAST(o_orderkey % 28 + 1 AS STRING), 2, '0') END AS birthday_s,
       'NAME_' || CAST((o_orderkey + 13) % 40 AS STRING) AS name_d,
       CASE WHEN o_orderkey % 13 = 0 THEN NULL
            ELSE 'FN_' || CAST((o_orderkey + 1) % 7 AS STRING) END AS first_name_d,
       '19' || lpad(CAST((o_orderkey + 17) % 100 AS STRING), 2, '0') || '-' ||
            lpad(CAST((o_orderkey + 17) % 12 + 1 AS STRING), 2, '0') || '-' ||
            lpad(CAST((o_orderkey + 17) % 28 + 1 AS STRING), 2, '0') AS birthday_d,
       CASE o_orderkey % 4 WHEN 0 THEN 'espoux (e) de'
                           WHEN 1 THEN 'parent (e) de'
                           WHEN 2 THEN 'enfant (e) de'
                           ELSE 'ami de' END AS relation_type
FROM orders
"""


def _sources(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    read_parquet_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    read_parquet_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return (
        spark.sql(_CONTACTS_SRC),
        spark.sql(_CONTRACTS_SRC),
        spark.sql(_RELATIONS_SRC),
    )


def integration_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified entities dimension from all three constructed sources
    (EP1 core: D1-D4 + F2 + F4 + dual-format date unification)."""
    e = integrate.build_entities(
        *integrate.parse_source_dates(*_sources(spark, sf_dir))
    )
    return e.select(
        "entity_id", "name", "first_name",
        F.col("birthday").cast("string").alias("birthday"), "entity_type",
    )


_ENTITY_ID_SQL = surrogate_key_sql(
    "name", "first_name", "CAST(birthday AS STRING)", "entity_type"
)

INTEGRATION_ENTITIES_SQL = f"""
WITH contacts_src AS ({_CONTACTS_SRC}),
     contracts_src AS ({_CONTRACTS_SRC}),
     relations_src AS ({_RELATIONS_SRC}),
     contacts_e AS (
       SELECT name, first_name,
              CAST(strptime(birthday, '%d/%m/%Y') AS DATE) AS birthday,
              entity_type
       FROM contacts_src
     ),
     contracts_e AS (
       SELECT name, first_name,
              CAST(strptime(birthday, '%d/%m/%Y') AS DATE) AS birthday,
              CASE WHEN first_name IS NULL AND birthday IS NULL
                   THEN 'PM' ELSE 'PF' END AS entity_type
       FROM contracts_src
     ),
     rel_ok AS (
       SELECT * FROM relations_src
       WHERE first_name_s IS NOT NULL AND first_name_d IS NOT NULL
     ),
     rel_e AS (
       SELECT name_s AS name, first_name_s AS first_name,
              CAST(birthday_s AS DATE) AS birthday, 'PF' AS entity_type
       FROM rel_ok
       UNION ALL
       SELECT name_d, first_name_d, CAST(birthday_d AS DATE), 'PF'
       FROM rel_ok
     ),
     all_e AS (
       SELECT DISTINCT name, first_name, birthday, entity_type FROM (
         SELECT * FROM contacts_e
         UNION ALL SELECT * FROM contracts_e
         UNION ALL SELECT * FROM rel_e
       )
     )
SELECT {_ENTITY_ID_SQL} AS entity_id,
       name, first_name, CAST(birthday AS STRING) AS birthday, entity_type
FROM all_e
"""


def integration_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resolved edge table (J3+F5+F2) from the constructed relations."""
    _, _, relations = _sources(spark, sf_dir)
    from data_integration_case_study_spark.functions.dates import parse_date_iso

    rel = relations.withColumn("birthday_s", parse_date_iso("birthday_s")).withColumn(
        "birthday_d", parse_date_iso("birthday_d")
    )
    return integrate.resolve_relations(rel)


_SRC_ID_SQL = surrogate_key_sql(
    "name_s", "first_name_s", "CAST(CAST(birthday_s AS DATE) AS STRING)", "'PF'"
)
_DST_ID_SQL = surrogate_key_sql(
    "name_d", "first_name_d", "CAST(CAST(birthday_d AS DATE) AS STRING)", "'PF'"
)

INTEGRATION_RELATIONS_SQL = f"""
WITH relations_src AS ({_RELATIONS_SRC})
SELECT {_SRC_ID_SQL} AS entity_id_source,
       {_DST_ID_SQL} AS entity_id_destination,
       CASE relation_type WHEN 'espoux (e) de' THEN 'SPOUSE_OF'
                          WHEN 'parent (e) de' THEN 'PARENT_OF'
                          WHEN 'enfant (e) de' THEN 'CHILD_OF' END AS relation_type
FROM relations_src
WHERE first_name_s IS NOT NULL AND first_name_d IS NOT NULL
"""


def j2_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (data_analysis.py:86-94): customers with at least one order —
    the nested existence loop as a hash left-semi join."""
    customer = read_parquet_table(spark, sf_dir, "customer")
    orders = read_parquet_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


J2_SEMI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def j_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (free Spark surface, SURVEY §2.3): customers with no
    orders — the round-trip invariant's 'nothing lost' check shape."""
    customer = read_parquet_table(spark, sf_dir, "customer")
    orders = read_parquet_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


J_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def d3_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: order-deterministic first-writer-wins — each customer's
    earliest order (ties broken by orderkey)."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    return integrate.dedup_first_wins(
        orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        keys=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
    )


D3_FIRST_WINS_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


def two_hop_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph traversal over the edge-list data model (SURVEY §1.1): 2-hop
    reachability via self-join — source→mid→dest with path counts. The
    reference only loads its edge table; the engine queries it. Scale:
    an equi-join on the shared endpoint (shuffle on mid), no special graph
    runtime needed for bounded-hop queries."""
    e = integration_relations(spark, sf_dir).select(
        F.col("entity_id_source").alias("src"),
        F.col("entity_id_destination").alias("dst"),
    )
    a = e.select(F.col("src").alias("a"), F.col("dst").alias("mid"))
    b = e.select(F.col("src").alias("mid"), F.col("dst").alias("c"))
    return (
        a.join(b, "mid")
        .filter(F.col("a") != F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


TWO_HOP_RELATIONS_SQL = f"""
WITH edges AS (
  SELECT entity_id_source AS src, entity_id_destination AS dst
  FROM ({INTEGRATION_RELATIONS_SQL})
)
SELECT a.src AS a, b.dst AS c, COUNT(*) AS n_paths
FROM edges a JOIN edges b ON a.dst = b.src
WHERE a.src <> b.dst
GROUP BY a.src, b.dst
"""


# Blocking keys for exact levenshtein-≤2 candidate generation, as
# codegen/HOF expressions over `name` (bounded ~L²/2 short keys per row,
# deduped; equal characters collapse under array_distinct).
#
# W: both-positions-wildcarded keys (chr(1) sentinel never appears in
#    names) — two equal-length names at substitution distance ≤ 2 share
#    the key that wildcards exactly their differing positions.
# del0/del1/del2: deletion neighborhoods (SymSpell). Every
#    levenshtein-≤2 edit script with an insertion or deletion reduces
#    both names to a common string via ≤2 deletions on one side and ≤1
#    on the other, so joining (del1 ∪ del2) against (del0 ∪ del1)
#    covers all indel cases WITHOUT a del2 × del2 self-join, whose
#    blocks grow with corpus density (on dense key spaces delete-2 ×
#    delete-2 is the quadratic trap).
_WILDCARD2_KEYS = """
array_distinct(CASE WHEN length(name) >= 2 THEN
  flatten(transform(sequence(1, length(name) - 1),
    i -> transform(sequence(i + 1, length(name)),
      j -> concat(substring(name, 1, i - 1), chr(1),
                  substring(name, i + 1, j - i - 1), chr(1),
                  substring(name, j + 1, length(name))))))
ELSE CAST(array() AS ARRAY<STRING>) END)
"""

_DEL1 = """
CASE WHEN length(name) >= 1 THEN
  transform(sequence(1, length(name)),
            i -> concat(substring(name, 1, i - 1),
                        substring(name, i + 1, length(name))))
ELSE CAST(array() AS ARRAY<STRING>) END
"""

_DEL2 = """
CASE WHEN length(name) >= 2 THEN
  flatten(transform(sequence(1, length(name) - 1),
    i -> transform(sequence(i + 1, length(name)),
      j -> concat(substring(name, 1, i - 1),
                  substring(name, i + 1, j - i - 1),
                  substring(name, j + 1, length(name))))))
ELSE CAST(array() AS ARRAY<STRING>) END
"""

_DEL1_KEYS = f"array_distinct({_DEL1})"
_DEL2_KEYS = f"array_distinct({_DEL2})"


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: ALL name pairs at edit distance ≤ 2 — the
    approximate half of entity resolution the reference's exact-key
    design (insert.py:138-153) can't express.

    Candidate generation is exact (complete recall), unlike round 2's
    arbitrary ``c_custkey % 50`` partitioner (a 1/50 sample of true
    pairs) or substring-segment blocks (degenerate here: every name
    shares the constant ``Customer#…`` prefix, so segment blocks go
    quadratic). Decomposition by edit-script shape:

    - substitution-only pairs share a both-positions-wildcarded key (W
      self-join; blocks = names equal everywhere else, so every joined
      pair is a true pair — zero waste);
    - any script with an indel reduces both sides to a common string via
      ≤2 deletions on one side, ≤1 on the other (X⋈Y asymmetric join;
      the delete-2 × delete-2 self-join — whose blocks go quadratic on
      dense key spaces — is never formed).

    The candidate join carries only (id, xxhash64(key), kind) — narrow
    fixed-width shuffle rows instead of ~40-char strings. Hash collisions
    can only ADD candidates, and every candidate is re-verified by the
    final banded levenshtein, so the result is still exactly the
    distance-≤2 pair set. All key kinds ride ONE join: kinds that appear
    on both sides (W, del1) pair with ``a.id < b.id`` so no pair is
    emitted twice, while the asymmetric deletion kinds (del2 left-only,
    del0 right-only) need ``!=`` + least/greatest because the side
    requiring more deletions may hold either id. Names join back after
    pair dedup (AQE broadcasts the slim name table locally; a plain
    shuffle equi-join at cluster scale).
    """
    c = read_parquet_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return _levenshtein2_pairs(base)


def _levenshtein2_pairs(
    base: DataFrame, block_col: str | Sequence[str] | None = None
) -> DataFrame:
    """The exact distance-≤2 pair machinery of :func:`fuzzy_name_pairs`
    over a (id, name[, block...]) frame; ``block_col`` (a column name or
    a sequence of them) joins candidates only within equal
    blocking-attribute values — standard ER blocking, which also bounds
    component sizes for the downstream clustering step
    (:func:`er_clusters_blocked`). A COMPOUND block (several columns) is
    how the caller keeps per-block occupancy constant as the corpus
    grows — see er_clusters_blocked's (nation, name-prefix-class)
    rationale."""
    # The key explode fans out ×~L²/2; without a spread, a handful of
    # input splits would pin the whole fan-out (and the join's map side)
    # to as many cores. No-op (no exchange) once the scan meets the
    # cluster parallelism.
    base = spread_to_parallelism(base)
    if block_col is None:
        blk = []
    elif isinstance(block_col, str):
        blk = [block_col]
    else:
        blk = list(block_col)

    def keyed(expr: str, kind: str) -> DataFrame:
        return base.select(
            "id", *blk, F.explode(F.expr(expr)).alias("k")
        ).select("id", *blk, F.xxhash64("k").alias("kh"), F.lit(kind).alias("kind"))

    left = (
        keyed(_WILDCARD2_KEYS, "w")
        .unionByName(keyed(_DEL1_KEYS, "d1"))
        .unionByName(keyed(_DEL2_KEYS, "d2"))
    )
    right = (
        keyed(_WILDCARD2_KEYS, "w")
        .unionByName(keyed("array(name)", "d0"))
        .unionByName(keyed(_DEL1_KEYS, "d1"))
    )
    same_kind = (F.col("a.kind") == F.col("b.kind")) & (
        F.col("a.id") < F.col("b.id")
    )
    cross_kind = (F.col("a.kind") != F.col("b.kind")) & (
        F.col("a.id") != F.col("b.id")
    )
    join_cond = (F.col("a.kh") == F.col("b.kh")) & (same_kind | cross_kind)
    for col in blk:
        join_cond = join_cond & (F.col(f"a.{col}") == F.col(f"b.{col}"))
    # The candidate join is PINNED to sort-merge: both sides are
    # ~L²/2-exploded (hundreds of key rows per name), and Catalyst's
    # size estimate does NOT grow through explode — at sf10 the static
    # planner saw the 17 GB exploded frame as under the 64 MB broadcast
    # threshold and the broadcast-stage collect blew
    # spark.driver.maxResultSize (found by the round-10 100x probe; AQE
    # cannot demote it because a broadcast stage has no upstream shuffle
    # stats). Sort-merge shuffles on kh, sorts spill, and the residual
    # kind/id predicates ride the join — the only strategy whose memory
    # is bounded at any corpus size. (Shuffle-hash would build
    # ~300 MB/task maps at sf10 on this shape.)
    cand = (
        left.alias("a")
        .join(right.alias("b").hint("merge"), join_cond)
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        .distinct()
    )
    named = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("name").alias("name_a")), "id_a"
    ).join(
        base.select(F.col("id").alias("id_b"), F.col("name").alias("name_b")), "id_b"
    )
    return (
        named
        # thresholded levenshtein runs the BANDED dynamic program —
        # O(k·n) per pair instead of O(n²), returning -1 past the bound
        .withColumn("dist", F.levenshtein("name_a", "name_b", 2))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


# DuckDB 1.0 cannot lateral generate_series over a column, so key
# positions enumerate a fixed 1..30 range; equivalent to the Spark
# side's full-length key generation only while every c_name is ≤ 30
# chars — pinned by tests/test_corpus_invariants.py at every SF.
FUZZY_NAME_PAIRS_SQL = """
WITH c AS (
  SELECT c_custkey AS id, c_name AS name, length(c_name) AS len FROM customer
),
pos2 AS (
  SELECT i, j FROM (SELECT unnest(generate_series(1, 30)) AS i) ti,
                   (SELECT unnest(generate_series(2, 30)) AS j) tj
  WHERE j > i
),
w AS (
  SELECT DISTINCT id,
         substr(name, 1, i - 1) || chr(1) || substr(name, i + 1, j - i - 1)
           || chr(1) || substr(name, j + 1, len) AS k
  FROM c, pos2 WHERE j <= len
),
d1 AS (
  SELECT DISTINCT id, substr(name, 1, i - 1) || substr(name, i + 1, len) AS k
  FROM c, (SELECT unnest(generate_series(1, 30)) AS i) ti WHERE i <= len
),
d2 AS (
  SELECT DISTINCT id,
         substr(name, 1, i - 1) || substr(name, i + 1, j - i - 1)
           || substr(name, j + 1, len) AS k
  FROM c, pos2 WHERE j <= len
),
x AS (SELECT id, k FROM d1 UNION SELECT id, k FROM d2),
y AS (SELECT id, name AS k FROM c UNION SELECT id, k FROM d1),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM w a JOIN w b ON a.k = b.k AND a.id < b.id
  UNION
  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
  FROM x a JOIN y b ON a.k = b.k AND a.id <> b.id
)
SELECT id_a, id_b, CAST(levenshtein(ca.name, cb.name) AS INT) AS dist
FROM cand
JOIN c ca ON ca.id = id_a
JOIN c cb ON cb.id = id_b
WHERE levenshtein(ca.name, cb.name) <= 2
"""


def er_clusters(pairs: DataFrame) -> DataFrame:
    """Entity-resolution CLUSTERING: a fuzzy match-pair graph collapsed
    into canonical entities via connected components (min id per
    cluster) — the approximate-ER completion of the reference's
    exact-key dedup (insert.py:138-153): exact keys resolve identical
    records, the fuzzy graph resolves typo'd ones, components make the
    merge decision transitive (a~b, b~c ⇒ one entity even if a~c exceeds
    the distance bound).

    NOT a catalog query by design: the synthetic customer names are a
    DENSE sequential key space, so the distance-≤2 graph chains the
    whole table into mega-components (4M pairs at sf0.1) and the
    recursive-CTE oracle goes quadratic in component size — a faithful
    small-scale oracle does not exist for that input. Both halves hold
    their own green rows (`fuzzy_name_pairs`, `neardup_clusters` for the
    identical component operator); the COMPOSITION's semantics are
    pinned by tests/test_integration.py on a realistic typo'd-contacts
    fixture. At 100 TB, run it on attribute-blocked pairs (same nation /
    zip / birthday band) — dense-key chaining is an artifact of
    synthetic sequential names, and blocking is standard ER practice
    regardless; :func:`er_clusters_blocked` is exactly that shape as a
    driver-proven catalog query."""
    from data_integration_case_study_spark.operators.graph import (
        connected_components,
    )

    return connected_components(pairs)


def er_clusters_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER end-to-end ON ATTRIBUTE-BLOCKED PAIRS — the driver-provable
    form of :func:`er_clusters` (round-3 verdict ask): blocked
    distance-≤2 name pairs feed connected components; output is the
    canonical-entity decision (id, cluster = min id of the merged
    entity) for every record that matched anything.

    The block is COMPOUND — (nation, name prefix class) — per
    the round-10 verdict: nation alone leaves per-block occupancy
    growing with the corpus (each nation's share of ALL customers), so
    within-block pair counts — and the candidate join's output, the
    distinct() hash aggregate, and component sizes — grow superlinearly
    with data. Compounding with a name-prefix class ("Customer#" + the
    first 5 of 9 digits) bounds the free suffix to 4 characters: a
    name's realized distance-≤2 neighborhood within its block is
    bounded by a CONSTANT (edits confined to the suffix), so 10× corpus
    means 10× more blocks of the same size — pairs, aggregate state,
    and per-component work all go corpus-LINEAR. This is standard ER
    blocking design (recall is traded at class boundaries by choice,
    identically in the oracle), not an approximation of a fixed answer.

    Blocking is also what makes both engines honest at once: components
    are block-bounded, so the Spark label propagation converges in few
    rounds AND the recursive-CTE oracle stays tractable — the unblocked
    graph chains the dense synthetic key space into table-sized
    components (see :func:`er_clusters`). Scale shape: the pair stage
    is the proven exact-cover machinery with both block keys riding the
    same candidate join; clustering cost is Σ block-component² —
    block-bounded, corpus-linear."""
    from data_integration_case_study_spark.operators.graph import (
        connected_components,
    )

    c = read_parquet_table(spark, sf_dir, "customer")
    # the prefix CLASS is the first 5 digits as an INT, not the 14-char
    # string: the block columns ride every L²/2-exploded shuffle row and
    # join as sort-merge keys, so 4 bytes vs a ~30-byte string is the
    # difference between the narrow-row candidate design and undoing it
    # (every c_name is exactly 'Customer#' + 9 digits — pinned by
    # tests/test_corpus_invariants.py, same invariant the oracle's
    # fixed 1..30 position range leans on)
    base = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.substring(F.col("c_name"), 10, 5).cast("int").alias("pfx"),
    )
    pairs = _levenshtein2_pairs(base, block_col=("nat", "pfx"))
    return connected_components(pairs, src="id_a", dst="id_b")


ER_CLUSTERS_BLOCKED_SQL = """
WITH RECURSIVE c AS (
  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
         CAST(substr(c_name, 10, 5) AS INT) AS pfx, length(c_name) AS len
  FROM customer
),
pos2 AS (
  SELECT i, j FROM (SELECT unnest(generate_series(1, 30)) AS i) ti,
                   (SELECT unnest(generate_series(2, 30)) AS j) tj
  WHERE j > i
),
w AS (
  SELECT DISTINCT id, nat, pfx,
         substr(name, 1, i - 1) || chr(1) || substr(name, i + 1, j - i - 1)
           || chr(1) || substr(name, j + 1, len) AS k
  FROM c, pos2 WHERE j <= len
),
d1 AS (
  SELECT DISTINCT id, nat, pfx,
         substr(name, 1, i - 1) || substr(name, i + 1, len) AS k
  FROM c, (SELECT unnest(generate_series(1, 30)) AS i) ti WHERE i <= len
),
d2 AS (
  SELECT DISTINCT id, nat, pfx,
         substr(name, 1, i - 1) || substr(name, i + 1, j - i - 1)
           || substr(name, j + 1, len) AS k
  FROM c, pos2 WHERE j <= len
),
x AS (SELECT id, nat, pfx, k FROM d1 UNION SELECT id, nat, pfx, k FROM d2),
y AS (SELECT id, nat, pfx, name AS k FROM c
      UNION SELECT id, nat, pfx, k FROM d1),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM w a JOIN w b
    ON a.k = b.k AND a.nat = b.nat AND a.pfx = b.pfx AND a.id < b.id
  UNION
  SELECT least(a.id, b.id), greatest(a.id, b.id)
  FROM x a JOIN y b
    ON a.k = b.k AND a.nat = b.nat AND a.pfx = b.pfx AND a.id <> b.id
),
pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN c ca ON ca.id = id_a
  JOIN c cb ON cb.id = id_b
  WHERE levenshtein(ca.name, cb.name) <= 2
),
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


def fs_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over sorted-neighborhood
    candidates (operators/integrate.fs_score): each candidate pair is
    compared field-by-field — name within edit distance 2, same market
    segment, account balance within 100 — and scored by the sum of
    log2(m/u) / log2((1-m)/(1-u)) agreement weights, then tiered into
    match / possible / non-match. The (m, u) parameters are fixed
    constants here (``fs_em_fit`` is the EM estimation that fits them
    from the comparison patterns);
    the weights enter the plan as driver-computed literals, so the
    runtime dataflow is blocking join + CASE sum — no transcendentals,
    engine-identical."""
    from data_integration_case_study_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )
    from data_integration_case_study_spark.operators.integrate import fs_score

    c = read_parquet_table(spark, sf_dir, "customer")
    cand = sorted_neighborhood_pairs(
        c, "c_custkey", "c_name", "c_nationkey", window=10
    )
    attrs = c.select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    j = (
        cand.join(
            attrs.select(
                F.col("c_custkey").alias("id_a"),
                F.col("c_mktsegment").alias("seg_a"),
                F.col("c_acctbal").alias("bal_a"),
            ),
            "id_a",
        )
        .join(
            attrs.select(
                F.col("c_custkey").alias("id_b"),
                F.col("c_mktsegment").alias("seg_b"),
                F.col("c_acctbal").alias("bal_b"),
            ),
            "id_b",
        )
    )
    score = fs_score([
        (F.levenshtein("key_a", "key_b") <= 2, 0.95, 0.01),
        (F.col("seg_a") == F.col("seg_b"), 0.9, 0.2),
        (F.abs(F.col("bal_a") - F.col("bal_b")) < 100.0, 0.8, 0.05),
    ])
    return j.select(
        F.col("id_a").alias("custkey_a"),
        F.col("id_b").alias("custkey_b"),
        F.round(score, 6).alias("score"),
        F.when(F.round(score, 6) >= 8.0, "match")
        .when(F.round(score, 6) >= 0.0, "possible")
        .otherwise("non-match")
        .alias("decision"),
    )


# --- blocking-quality report -------------------------------------------------


def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality report for the ER pipeline's candidate keys: the
    reduction ratio (1 - candidate_pairs / all_pairs) and block-size
    shape that decide whether a blocking key is usable BEFORE any
    comparisons run — the standard pre-flight audit of every record-
    linkage job (a skewed max block means one task compares a
    quadratic blob; a low reduction ratio means the key barely prunes).

    One row per blocking SCHEME: the legacy single-attribute 'nation'
    key and the compound 'nation_prefix' key that
    :func:`er_clusters_blocked` actually uses since the round-10
    verdict (ask #4) — the report exists to predict the pipeline's
    cost, so it must audit the key the pipeline runs on; the legacy row
    stays as the comparison that SHOWS the compound key's occupancy
    win (round-11 /code-review finding #4).

    Shape: one count aggregation per scheme to the BLOCK grain, one
    1-row aggregate over each. Candidate-pair counts are exact integer
    b(b-1)/2 sums (integer division — both engines); the only double
    is the final ratio. Pairs-completeness needs labeled ground truth,
    so it is out of scope by design (documented, not fudged)."""
    c = read_parquet_table(spark, sf_dir, "customer")

    def scheme(label: str, keyed: DataFrame) -> DataFrame:
        sizes = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("b"))
        rep = sizes.agg(
            F.sum("b").cast("long").alias("n_records"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.max("b").alias("max_block_size"),
            F.sum(F.expr("(b * (b - 1)) div 2")).cast("long").alias(
                "candidate_pairs"
            ),
        )
        total_pairs = F.expr("(n_records * (n_records - 1)) div 2")
        return rep.select(
            F.lit(label).alias("blocking_key"),
            "n_records",
            "n_blocks",
            "max_block_size",
            (
                F.col("n_records").cast("double")
                / F.col("n_blocks").cast("double")
            ).alias("avg_block_size"),
            "candidate_pairs",
            total_pairs.alias("total_pairs"),
            (
                F.lit(1.0)
                - F.col("candidate_pairs").cast("double")
                / total_pairs.cast("double")
            ).alias("reduction_ratio"),
        )

    nation = c.select(F.col("c_nationkey").cast("string").alias("k"))
    # F.concat, NOT concat_ws: concat propagates NULL like DuckDB's ||,
    # concat_ws silently SKIPS NULLs — on a corpus with a NULL key the
    # twins would group divergently (latent here: TPC-H keys are
    # non-null; the mirrored semantics make the pair safe by
    # construction anyway)
    compound = c.select(
        F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit("|"),
            F.substring(F.col("c_name"), 10, 5),
        ).alias("k")
    )
    return scheme("nation", nation).unionByName(
        scheme("nation_prefix", compound)
    )


ER_BLOCKING_QUALITY_SQL = """
WITH keyed AS (
  SELECT 'nation' AS blocking_key, CAST(c_nationkey AS VARCHAR) AS k
  FROM customer
  UNION ALL
  SELECT 'nation_prefix',
         CAST(c_nationkey AS VARCHAR) || '|' || substr(c_name, 10, 5)
  FROM customer
),
sizes AS (
  SELECT blocking_key, k, COUNT(*) AS b FROM keyed GROUP BY 1, 2
),
rep AS (
  SELECT blocking_key,
         CAST(SUM(b) AS BIGINT) AS n_records,
         COUNT(*) AS n_blocks,
         CAST(MAX(b) AS BIGINT) AS max_block_size,
         CAST(SUM((b * (b - 1)) // 2) AS BIGINT) AS candidate_pairs
  FROM sizes GROUP BY 1
)
SELECT blocking_key, n_records, n_blocks, max_block_size,
       CAST(n_records AS DOUBLE) / CAST(n_blocks AS DOUBLE)
         AS avg_block_size,
       candidate_pairs,
       (n_records * (n_records - 1)) // 2 AS total_pairs,
       1.0 - CAST(candidate_pairs AS DOUBLE)
             / CAST((n_records * (n_records - 1)) // 2 AS DOUBLE)
         AS reduction_ratio
FROM rep
"""


# --- Fellegi-Sunter EM parameter fit ----------------------------------------

_EM_GRID = 1 << 40
_EM_FIELDS = ["name_lev2", "segment_eq", "bal_within_100"]
_EM_M0, _EM_U0, _EM_P0 = 0.9, 0.1, 0.1


def _fs_gammas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The comparison-vector table EM fits on: the same sorted-
    neighborhood candidate pairs fs_match_scores scores, with each
    field comparison as a 0/1 agreement indicator."""
    from data_integration_case_study_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    c = read_parquet_table(spark, sf_dir, "customer")
    cand = sorted_neighborhood_pairs(
        c, "c_custkey", "c_name", "c_nationkey", window=10
    )
    attrs = c.select("c_custkey", "c_mktsegment", "c_acctbal")
    j = cand.join(
        attrs.select(
            F.col("c_custkey").alias("id_a"),
            F.col("c_mktsegment").alias("seg_a"),
            F.col("c_acctbal").alias("bal_a"),
        ),
        "id_a",
    ).join(
        attrs.select(
            F.col("c_custkey").alias("id_b"),
            F.col("c_mktsegment").alias("seg_b"),
            F.col("c_acctbal").alias("bal_b"),
        ),
        "id_b",
    )
    return j.select(
        (F.levenshtein("key_a", "key_b") <= 2).cast("int").alias("g0"),
        (F.col("seg_a") == F.col("seg_b")).cast("int").alias("g1"),
        (F.abs(F.col("bal_a") - F.col("bal_b")) < 100.0).cast("int").alias("g2"),
    )


def _em_round(pairs: DataFrame, params: DataFrame) -> DataFrame:
    """One EM iteration: E-step match responsibilities w (fixed IEEE
    chain over the current params, snapped to the 2^-40 grid), M-step
    exact decimal sums -> new (m_i, u_i, p) — all integer arithmetic
    between the two float boundaries, so the fitted parameters are
    bit-identical in any engine and under any partitioning."""
    x = pairs.crossJoin(F.broadcast(params))
    one = F.lit(1.0)
    fm = [
        F.when(F.col(f"g{i}") == 1, F.col(f"m{i}")).otherwise(
            one - F.col(f"m{i}")
        )
        for i in range(3)
    ]
    fu = [
        F.when(F.col(f"g{i}") == 1, F.col(f"u{i}")).otherwise(
            one - F.col(f"u{i}")
        )
        for i in range(3)
    ]
    pm = F.col("p") * fm[0] * fm[1] * fm[2]
    pu = (one - F.col("p")) * fu[0] * fu[1] * fu[2]
    w = pm / (pm + pu)
    ws = F.floor(w * F.lit(float(_EM_GRID)) + F.lit(0.5)).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    agg = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ws).alias("w_sum"),
        *[
            F.sum(F.when(F.col(f"g{i}") == 1, ws).otherwise(zero)).alias(
                f"w{i}"
            )
            for i in range(3)
        ],
        *[F.sum(F.col(f"g{i}")).alias(f"c{i}") for i in range(3)],
    )
    gdec = F.lit(_EM_GRID).cast("decimal(13,0)")
    total = F.col("n").cast("decimal(18,0)") * gdec
    return agg.select(
        *[
            (F.col(f"w{i}").cast("double") / F.col("w_sum").cast("double")).alias(
                f"m{i}"
            )
            for i in range(3)
        ],
        *[
            (
                (F.col(f"c{i}").cast("decimal(18,0)") * gdec - F.col(f"w{i}")).cast(
                    "double"
                )
                / (total - F.col("w_sum")).cast("double")
            ).alias(f"u{i}")
            for i in range(3)
        ],
        (F.col("w_sum").cast("double") / total.cast("double")).alias("p"),
    )


def fs_em_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM fit of the Fellegi-Sunter (m, u, p) parameters over the
    comparison-vector table — the estimation step fs_match_scores
    documents as "production fits by EM": two unrolled iterations from
    (m=0.9, u=0.1, p=0.1), emitting the fitted per-field m/u and the
    match prevalence after each round (the convergence trace a linkage
    pipeline logs before freezing the score weights).

    Scale shape: the kmeans/BPE bounded-iteration pattern — the E-step
    is one map expression over the cached pair table, the M-step ONE
    aggregation to a 1-row parameter frame that broadcasts into the
    next round; per-round cost is one pass over the pairs, rounds are
    a fixed constant. Responsibilities snap to the 2^-40 grid so the
    M-step sums are exact decimals (order-independent), making the
    fitted parameters deterministic — the DuckDB twin replays both
    rounds bit-for-bit."""
    from data_integration_case_study_spark.operators import cache

    pairs = cache.track(_fs_gammas(spark, sf_dir))
    params0 = spark.range(1).select(
        *[F.lit(_EM_M0).alias(f"m{i}") for i in range(3)],
        *[F.lit(_EM_U0).alias(f"u{i}") for i in range(3)],
        F.lit(_EM_P0).alias("p"),
    )
    rounds = []
    params = params0
    for _ in range(2):
        params = _em_round(pairs, params)
        rounds.append(params)
    out = None
    for it, pr in enumerate(rounds, start=1):
        long = pr.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(_EM_FIELDS[i]).alias("field"),
                        F.col(f"m{i}").alias("m_est"),
                        F.col(f"u{i}").alias("u_est"),
                    )
                    for i in range(3)
                ])
            ).alias("fe"),
            F.col("p").alias("p_match"),
        ).select(
            F.lit(it).alias("iteration"), "fe.field", "fe.m_est", "fe.u_est",
            "p_match",
        )
        out = long if out is None else out.unionByName(long)
    return out


def _fs_em_sql() -> str:
    g = float(_EM_GRID)
    one = "CAST(1.0 AS DOUBLE)"

    def round_sql(src_params: str, idx: int) -> str:
        fm = " * ".join(
            f"(CASE WHEN g{i} = 1 THEN m{i} ELSE {one} - m{i} END)"
            for i in range(3)
        )
        fu = " * ".join(
            f"(CASE WHEN g{i} = 1 THEN u{i} ELSE {one} - u{i} END)"
            for i in range(3)
        )
        return f"""
e{idx} AS (
  SELECT g0, g1, g2,
         CAST(floor((p * {fm}) / ((p * {fm}) + (({one} - p) * {fu}))
                    * {g!r} + 0.5) AS DECIMAL(38,0)) AS ws
  FROM pairs CROSS JOIN {src_params}
),
a{idx} AS (
  SELECT COUNT(*) AS n, SUM(ws) AS w_sum,
         {", ".join(f"SUM(CASE WHEN g{i} = 1 THEN ws ELSE CAST(0 AS DECIMAL(38,0)) END) AS w{i}" for i in range(3))},
         {", ".join(f"SUM(g{i}) AS c{i}" for i in range(3))}
  FROM e{idx}
),
p{idx} AS (
  SELECT
    {", ".join(f"CAST(CAST(w{i} AS VARCHAR) AS DOUBLE) / CAST(CAST(w_sum AS VARCHAR) AS DOUBLE) AS m{i}" for i in range(3))},
    {", ".join(f"CAST(CAST(CAST(c{i} AS DECIMAL(18,0)) * CAST({_EM_GRID} AS DECIMAL(13,0)) - w{i} AS VARCHAR) AS DOUBLE) / CAST(CAST(CAST(n AS DECIMAL(18,0)) * CAST({_EM_GRID} AS DECIMAL(13,0)) - w_sum AS VARCHAR) AS DOUBLE) AS u{i}" for i in range(3))},
    CAST(CAST(w_sum AS VARCHAR) AS DOUBLE)
      / CAST(CAST(CAST(n AS DECIMAL(18,0)) * CAST({_EM_GRID} AS DECIMAL(13,0)) AS VARCHAR) AS DOUBLE) AS p
  FROM a{idx}
)"""

    finals = " UNION ALL ".join(
        f"SELECT {it} AS iteration, '{_EM_FIELDS[i]}' AS field, "
        f"m{i} AS m_est, u{i} AS u_est, p AS p_match FROM p{it}"
        for it in (1, 2)
        for i in range(3)
    )
    return f"""
WITH ranked AS (
  SELECT c_custkey AS id, c_name AS key, c_nationkey AS block,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_name ASC, c_custkey ASC) AS r
  FROM customer
),
probes AS (
  SELECT id AS id_a, key AS key_a, block,
         unnest(generate_series(r + 1, r + 10)) AS r
  FROM ranked
),
cand AS (
  SELECT p.id_a, p.key_a, t.id AS id_b, t.key AS key_b
  FROM probes p JOIN ranked t ON t.block = p.block AND t.r = p.r
),
pairs AS (
  SELECT CASE WHEN levenshtein(key_a, key_b) <= 2 THEN 1 ELSE 0 END AS g0,
         CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS g1,
         CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0 THEN 1 ELSE 0 END AS g2
  FROM cand
  JOIN customer a ON a.c_custkey = id_a
  JOIN customer b ON b.c_custkey = id_b
),
p0 AS (
  SELECT {", ".join(f"CAST({_EM_M0} AS DOUBLE) AS m{i}" for i in range(3))},
         {", ".join(f"CAST({_EM_U0} AS DOUBLE) AS u{i}" for i in range(3))},
         CAST({_EM_P0} AS DOUBLE) AS p
),
{round_sql('p0', 1)},
{round_sql('p1', 2)}
{finals}
"""


FS_MATCH_SCORES_SQL = """
WITH ranked AS (
  SELECT c_custkey AS id, c_name AS key, c_nationkey AS block,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_name ASC, c_custkey ASC) AS r
  FROM customer
),
probes AS (
  SELECT id AS id_a, key AS key_a, block,
         unnest(generate_series(r + 1, r + 10)) AS r
  FROM ranked
),
cand AS (
  SELECT p.id_a, p.key_a, t.id AS id_b, t.key AS key_b
  FROM probes p JOIN ranked t ON t.block = p.block AND t.r = p.r
),
scored AS (
  SELECT id_a AS custkey_a, id_b AS custkey_b,
         round(
           (CASE WHEN levenshtein(key_a, key_b) <= 2
                 THEN 6.569855608330948 ELSE -4.307428525192246 END)
         + (CASE WHEN a.c_mktsegment = b.c_mktsegment
                 THEN 2.169925001442312 ELSE -3.0000000000000004 END)
         + (CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0
                 THEN 4.0 ELSE -2.2479275134435857 END), 6) AS score
  FROM cand
  JOIN customer a ON a.c_custkey = id_a
  JOIN customer b ON b.c_custkey = id_b
)
SELECT custkey_a, custkey_b,
       CAST(score AS DOUBLE) AS score,
       CASE WHEN score >= 8.0 THEN 'match'
            WHEN score >= 0.0 THEN 'possible'
            ELSE 'non-match' END AS decision
FROM scored
"""


# --- phonetic (Soundex-style) ER blocking ------------------------------------

# letter -> Soundex digit map (A..Z), vowels/H/W/Y -> 0
_SOUNDEX_MAP = "01230120022455012623010202"


def phonetic_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic (simplified-Soundex) blocking for entity resolution
    over the part-name domain: names sharing a phonetic code become
    candidate pairs, verified with an edit-distance column — the
    classic sounds-alike blocking key (catches transcription variants
    like 'gear'/'geer' that n-gram keys weight differently), beside
    the wildcard/deletion-neighborhood keys of fuzzy_name_pairs and
    the sort-key windows of sorted_neighborhood_matches.

    Scale shape: the code is one map-only string pipeline; pairing
    runs over the DISTINCT NAME DOMAIN (names ≪ rows at any SF), with
    per-name part counts riding along from one group-by — the fact
    table is touched once.

    The code is built from translate/regexp primitives that exist
    identically in Spark and DuckDB (neither backreferences nor a
    soundex builtin are portable): uppercase, letters only, map to
    Soundex digits, collapse runs per digit, drop the first letter's
    own code, strip the zeros (vowels/H/W), first letter + 3 digits
    padded with '0'. The classic H/W run-boundary rule is deliberately
    omitted — a documented simplified variant, identical in both
    engines."""
    p = read_parquet_table(spark, sf_dir, "part")
    names = p.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    letters = F.regexp_replace(F.upper(F.col("name")), "[^A-Z]", "")
    digits = F.translate(
        letters, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", _SOUNDEX_MAP
    )
    for d in "0123456":
        digits = F.regexp_replace(digits, d + "{2,}", d)
    code = F.concat(
        F.substring(letters, 1, 1),
        F.rpad(
            F.regexp_replace(F.substring(digits, 2, 1000), "0", ""), 3, "0"
        ).substr(1, 3),
    )
    coded = names.select("name", "n_parts", code.alias("code"))
    a = coded.select(
        F.col("code"),
        F.col("name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = coded.select(
        F.col("code"),
        F.col("name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    return (
        a.join(b, "code")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "code",
            "name_a",
            "name_b",
            "n_parts_a",
            "n_parts_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
    )


def _phonetic_code_sql(col: str) -> str:
    letters = f"regexp_replace(upper({col}), '[^A-Z]', '', 'g')"
    digits = (
        f"translate({letters}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        f" '{_SOUNDEX_MAP}')"
    )
    for d in "0123456":
        digits = f"regexp_replace({digits}, '{d}{{2,}}', '{d}', 'g')"
    return (
        f"substr({letters}, 1, 1) || "
        f"substr(rpad(regexp_replace(substr({digits}, 2), '0', '', 'g'),"
        f" 3, '0'), 1, 3)"
    )


PHONETIC_BLOCKING_PAIRS_SQL = f"""
WITH names AS (
  SELECT p_name AS name, COUNT(*) AS n_parts FROM part GROUP BY 1
),
coded AS (
  SELECT name, n_parts, {_phonetic_code_sql("name")} AS code FROM names
)
SELECT a.code, a.name AS name_a, b.name AS name_b,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
FROM coded a JOIN coded b ON a.code = b.code AND a.name < b.name
"""


QUERIES = {
    "fs_match_scores": fs_match_scores,
    "fs_em_fit": fs_em_fit,
    "er_blocking_quality": er_blocking_quality,
    "phonetic_blocking_pairs": phonetic_blocking_pairs,
    "integration_entities": integration_entities,
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "er_clusters_blocked": er_clusters_blocked,
    "two_hop_relations": two_hop_relations,
    "integration_relations": integration_relations,
    "j2_semi_join": j2_semi_join,
    "j_anti_join": j_anti_join,
    "d3_first_wins_dedup": d3_first_wins_dedup,
}

ORACLES = {
    "fs_match_scores": FS_MATCH_SCORES_SQL,
    "fs_em_fit": _fs_em_sql(),
    "er_blocking_quality": ER_BLOCKING_QUALITY_SQL,
    "phonetic_blocking_pairs": PHONETIC_BLOCKING_PAIRS_SQL,
    "integration_entities": INTEGRATION_ENTITIES_SQL,
    "fuzzy_name_pairs": FUZZY_NAME_PAIRS_SQL,
    "er_clusters_blocked": ER_CLUSTERS_BLOCKED_SQL,
    "two_hop_relations": TWO_HOP_RELATIONS_SQL,
    "integration_relations": INTEGRATION_RELATIONS_SQL,
    "j2_semi_join": J2_SEMI_JOIN_SQL,
    "j_anti_join": J_ANTI_JOIN_SQL,
    "d3_first_wins_dedup": D3_FIRST_WINS_SQL,
}

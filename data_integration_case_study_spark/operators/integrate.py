"""Integration core — entity resolution and the reference pipeline
(SURVEY.md §2.3 J2-J3, §2.5 D1-D4, §3 EP1).

Re-expresses the reference's ``import_to_mySQL`` (reference insert.py:87-191)
as one lazy DAG. The reference's per-row machinery — uuid4 minting, a
driver-side dict as dedup index, iterrows + O(n²) appends — becomes:

- content-addressed sha256 surrogate keys (functions/entity.py): the same
  natural key always yields the same id, on any executor, with no shared
  state — this is what makes entity resolution embarrassingly parallel at
  100 TB (the reference's dict index is inherently single-process).
- ``dropDuplicates`` over the natural key: one shuffle hash-agg replaces
  the dict probe loop (insert.py:144-153).
- ``unionByName`` of per-source projections (insert.py:128-129, 165-166).

Known reference bug, fixed not ported (SURVEY §2.5): insert.py:150 probes
``entity_id_destination`` (a fresh uuid, never present) instead of
``entity_destination``, and line 151 assigns from the *source* key. The
intended semantics — both endpoints deduped against all prior occurrences —
is what content-addressing gives for free here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.dates import parse_date_fr, parse_date_iso
from data_integration_case_study_spark.functions.entity import (
    determine_entity_type,
    map_relation_type,
    surrogate_key,
)

ENTITY_KEY = ("name", "first_name", "birthday", "entity_type")


def dedup_first_wins(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """D3: order-deterministic first-writer-wins dedup.

    The reference's dict semantics ("first occurrence mints the id",
    insert.py:144-153) are order-dependent; under a shuffle "first" is
    undefined, so the engine demands an explicit ordering. One window
    hash-partition by key; ties broken by the order columns.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def add_entity_id(df: DataFrame) -> DataFrame:
    """D1/D2: attach the content-addressed surrogate key over the natural
    key (birthday keyed as its ISO string so both source date formats
    resolve to the same entity, as the reference's parsed-datetime dict
    keys do)."""
    return df.withColumn(
        "entity_id",
        surrogate_key(
            F.col("name"),
            F.col("first_name"),
            F.col("birthday").cast("string"),
            F.col("entity_type"),
        ),
    )


def filter_complete_relations(relations: DataFrame) -> DataFrame:
    """F2 (insert.py:135-136): drop rows where either endpoint's
    first_name is null."""
    return relations.filter(
        F.col("first_name_s").isNotNull() & F.col("first_name_d").isNotNull()
    )


def relation_endpoints(relations: DataFrame) -> DataFrame:
    """Both endpoints of each complete relation row as PF entities
    (insert.py:138-139): the source's (name, first_name, birthday) stack
    over the destination's."""
    ok = filter_complete_relations(relations)
    src = ok.select(
        F.col("name_s").alias("name"),
        F.col("first_name_s").alias("first_name"),
        F.col("birthday_s").alias("birthday"),
        F.lit("PF").alias("entity_type"),
    )
    dst = ok.select(
        F.col("name_d").alias("name"),
        F.col("first_name_d").alias("first_name"),
        F.col("birthday_d").alias("birthday"),
        F.lit("PF").alias("entity_type"),
    )
    return src.unionByName(dst)


def build_entities(
    contacts: DataFrame, contracts: DataFrame, relations: DataFrame
) -> DataFrame:
    """D4 + D3: the unified entities dimension.

    Union the three per-source projections (insert.py:128-129, 165-166),
    dedup on the natural key, attach deterministic ids. Unlike the
    reference — which keeps duplicate contact/contract rows as distinct
    uuid entities and only dedups relation endpoints — dedup is uniform
    across sources (the corrected semantics per SURVEY §2.5).

    Scale shape: three map-only projections → one shuffle (hash dedup on
    the natural key) → map-side sha256. No driver participation.
    """
    contacts_e = contacts.select("name", "first_name", "birthday", "entity_type")
    contracts_e = contracts.select(
        "name",
        "first_name",
        "birthday",
        determine_entity_type("first_name", "birthday").alias("entity_type"),
    )
    all_e = contacts_e.unionByName(contracts_e).unionByName(
        relation_endpoints(relations)
    )
    return add_entity_id(all_e.dropDuplicates(list(ENTITY_KEY)))


def resolve_relations(relations: DataFrame) -> DataFrame:
    """J3 + F5: the resolved edge table (insert.py:134-162).

    Null-incomplete rows dropped (F2), endpoint ids computed directly from
    the natural keys (no index probe — content addressing), relation types
    mapped FR→EN with null on unknown (F5). Row multiplicity preserved
    (the reference appends every surviving row).
    """
    ok = filter_complete_relations(relations)
    return ok.select(
        surrogate_key(
            F.col("name_s"),
            F.col("first_name_s"),
            F.col("birthday_s").cast("string"),
            F.lit("PF"),
        ).alias("entity_id_source"),
        surrogate_key(
            F.col("name_d"),
            F.col("first_name_d"),
            F.col("birthday_d").cast("string"),
            F.lit("PF"),
        ).alias("entity_id_destination"),
        map_relation_type("relation_type").alias("relation_type"),
    )


def common_people(contacts: DataFrame, contracts: DataFrame) -> DataFrame:
    """J2 (data_analysis.py:86-94): contacts that also hold contracts.

    The reference's O(n·m) nested loop becomes a hash left-semi join on
    the 3-column natural key (broadcast or shuffled — Catalyst/AQE picks).
    """
    return contacts.join(
        contracts, on=["name", "first_name", "birthday"], how="left_semi"
    )


def parse_source_dates(
    contacts_raw: DataFrame, contracts_raw: DataFrame, relations_raw: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dual-format date unification of the three renamed sources: the
    contacts' and contracts' French dd/mm/yyyy dates and the relations'
    ISO endpoint birthdays become DATE columns. One projection per
    source."""
    contract_dates = ["birthday"] + [c for c in ("open_at", "date_price")
                                     if c in contracts_raw.columns]
    return (
        contacts_raw.withColumn("birthday", parse_date_fr("birthday")),
        contracts_raw.withColumns({c: parse_date_fr(c) for c in contract_dates}),
        relations_raw.withColumns({c: parse_date_iso(c)
                                   for c in ("birthday_s", "birthday_d")}),
    )


def integration_pipeline(
    contacts_raw: DataFrame,
    contracts_raw: DataFrame,
    relations_raw: DataFrame,
    phone_column: str | None = "phone_number",
) -> dict[str, DataFrame]:
    """EP1 (insert.py:87-191) end-to-end as one lazy DAG.

    Inputs are the renamed source tables (post P1) with string dates in
    the reference's two formats. Returns the four output tables; callers
    write them (S3) — the only actions are the writes.
    """
    from data_integration_case_study_spark.functions.phone import parse_phone_number

    contacts, contracts, relations = parse_source_dates(
        contacts_raw, contracts_raw, relations_raw
    )
    if phone_column and phone_column in contacts_raw.columns:
        contacts = contacts.withColumn(phone_column, parse_phone_number(phone_column))

    entities = build_entities(contacts, contracts, relations)

    contacts_out = add_entity_id(
        contacts.withColumn("entity_type", F.coalesce("entity_type", F.lit("PF")))
    ).drop("name", "first_name", "birthday", "entity_type")
    contracts_out = add_entity_id(
        contracts.withColumn(
            "entity_type", determine_entity_type("first_name", "birthday")
        )
    ).drop("name", "first_name", "birthday", "entity_type", "value")
    relations_out = resolve_relations(relations)

    return {
        "entities": entities,
        "contacts": contacts_out,
        "contracts": contracts_out,
        "relations": relations_out,
    }


def fs_score(agreements: list[tuple["F.Column", float, float]]) -> "F.Column":
    """Fellegi-Sunter (1969) probabilistic record-linkage score: for each
    compared field with agreement indicator ``agree`` and (m, u)
    probabilities — P(agree | same entity) and P(agree | different
    entities) — the field contributes log2(m/u) on agreement and
    log2((1-m)/(1-u)) on disagreement; the pair's score is the sum.
    Thresholding the score gives the match / possible / non-match
    decision tiers.

    The (m, u) parameters are caller-supplied constants; the EM fit
    that estimates them from the comparison patterns is implemented as
    ``plans/integration_queries.fs_em_fit`` (bounded-iteration agg,
    same execution pattern as kmeans). The log-weights are therefore computed DRIVER-side in
    Python and enter the plan as literals: the runtime dataflow is a
    CASE-literal sum — deterministic in any engine, no transcendental
    functions at execution time."""
    import math

    score = F.lit(0.0)
    for agree, m, u in agreements:
        w_a = math.log2(m / u)
        w_d = math.log2((1.0 - m) / (1.0 - u))
        score = score + F.when(agree, F.lit(w_a)).otherwise(F.lit(w_d))
    return score


def golden_record(
    feeds: DataFrame,
    key_cols: list[str],
    fields: list[str],
    priority_col: str = "priority",
) -> DataFrame:
    """MDM survivorship — the step AFTER entity resolution: given the
    unioned source feeds of an entity (one row per (entity, feed), a
    numeric ``priority`` per feed, lower = more trusted), build the
    golden record by picking, PER FIELD, the value from the
    highest-priority feed that has it non-null, with the winning
    priority emitted alongside as provenance (``<field>_src``).

    Shape: ONE aggregation keyed by the entity — "first non-null by
    priority" is encoded as an exact MIN over (priority, value) structs
    (null fields drop out of the MIN; priority is unique per feed, so
    the value component never participates in the comparison — no
    argmin tie ambiguity, no float comparisons, engine-portable). At
    100 TB this is a single map-side-combinable shuffle by entity key,
    whatever the number of fields or feeds."""
    aggs = []
    for f in fields:
        w = F.min(
            F.when(
                F.col(f).isNotNull(),
                F.struct(F.col(priority_col).alias("p"), F.col(f).alias("v")),
            )
        )
        aggs.append(w["v"].alias(f))
        aggs.append(w["p"].alias(f + "_src"))
    return feeds.groupBy(*key_cols).agg(*aggs)

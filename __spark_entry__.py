"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Query keys map to SURVEY.md §2 operator IDs.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable, Mapping, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from data_integration_case_study_spark.functions.numeric import dsum_sql
from data_integration_case_study_spark.plans import (
    advanced,
    analysis_queries,
    analytics,
    corpus_queries,
    diagnostics_queries,
    events_queries,
    inference_queries,
    integration_queries,
    mining_queries,
    pipeline_queries,
    reference_queries,
    relational,
    stats_queries,
    text_queries,
    tpch_extra,
    tsa_queries,
    vector_queries,
    warehouse_queries,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return analytics.flagship_revenue_by_nation(spark, "/root/testdata/sf0.001")


# The correctness check hash-compares only the first WINDOW keys of
# queries().
WINDOW = 50

# Queries whose code changed since their last green CORRECTNESS row; they
# lead the window until a record proves them (ROTATION.md rule 1).
MUST_PROVE = (
    # r11 oracle edit + r12 bitset verify; r12 markov fold; r12 batch decoder
    "ngram_jaccard_neardups",
    "markov_attribution",
    "multimodal_features",
    # r11 soft-witness backlog (VERDICT.md "Next round" item 1)
    "multimodal_phash_neardups",
    "simhash_neardups",
    "neardup_method_agreement",
    "neardup_eval",
    "motif_discovery_daily",
    "harmonic_centrality_3hop",
    "pagerank_knn",
    "textrank_keywords",
    "multimodal_resize",
    "multimodal_ahash_neardups",
    "rec_hitrate_eval",
    "schema_matching_scores",
    "kmeans_centroids",
    "cluster_size_distribution",
    # BPE training no longer reuses merges across queries
    "bpe_train_merges",
    "bpe_encode_stats",
)


def _catalog() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query, in catalog merge order."""
    return {
        "flagship_revenue_by_nation": analytics.flagship_revenue_by_nation,
        **analysis_queries.QUERIES,
        **reference_queries.QUERIES,
        **integration_queries.QUERIES,
        **relational.QUERIES,
        **tpch_extra.QUERIES,
        **events_queries.QUERIES,
        **inference_queries.QUERIES,
        **text_queries.QUERIES,
        **vector_queries.QUERIES,
        **advanced.QUERIES,
        **pipeline_queries.QUERIES,
        **corpus_queries.QUERIES,
        **warehouse_queries.QUERIES,
        **mining_queries.QUERIES,
        **stats_queries.QUERIES,
        **tsa_queries.QUERIES,
        **diagnostics_queries.QUERIES,
    }


def _is_proof(row: dict) -> bool:
    return not row.get("err") and all(
        row.get(k) for k in ("rows_match", "schema_match", "hash_match")
    )


def query_order(
    names: Iterable[str],
    records: Mapping[int, Mapping[str, dict]],
    must_prove: Sequence[str],
) -> list[str]:
    """The rotation policy (ROTATION.md) as a sort: ``must_prove`` first,
    then every other name oldest proof first.

    ``records`` maps a round number to that round's CORRECTNESS record
    (query name -> row, in the order it was checked). A row proves its query
    when ``err`` is unset and rows, schema and hash all match. A name's
    key is (round, position in that round's record) of its LAST proving
    row, so a red latest row falls back to the older green one. Names
    never proven sort first, in catalog order (``names`` order).

    Raises RuntimeError (not assert: must survive ``python -O``) when
    ``must_prove`` names an unknown query, repeats one, or would not fit
    in the window.
    """
    names = list(names)
    unknown = [n for n in must_prove if n not in names]
    if unknown or len(set(must_prove)) != len(must_prove) \
            or len(must_prove) > WINDOW:
        raise RuntimeError(
            f"MUST_PROVE must be at most {WINDOW} distinct catalog names; "
            f"unknown={unknown}, got {list(must_prove)}"
        )
    proof = {}
    for rnd in sorted(records):
        for pos, (name, row) in enumerate(records[rnd].items()):
            if _is_proof(row):
                proof[name] = (rnd, pos)
    rest = [n for n in names if n not in must_prove]
    # sorted() is stable: never-proven names keep their catalog order
    return [*must_prove, *sorted(rest, key=lambda n: proof.get(n, (-1, 0)))]


def _correctness_records(here: Path) -> dict[int, dict]:
    out = {}
    for p in here.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            out[int(m.group(1))] = json.loads(p.read_text())
    return out


_ORDER = query_order(
    _catalog(), _correctness_records(Path(__file__).resolve().parent),
    MUST_PROVE,
)
DRIVER_WINDOW = _ORDER[:WINDOW]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    ``query_order`` (the first WINDOW keys are the checked window)."""
    catalog = _catalog()
    return {k: catalog[k] for k in _ORDER}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of ``queries()`` (same column names — driver hashes by
    sorted column name). Non-SQL-expressible ops are absent → rows-only."""
    return {
        **analysis_queries.ORACLES,
        "flagship_revenue_by_nation": f"""
            SELECT n_name,
                   {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC
        """,
        **reference_queries.ORACLES,
        **integration_queries.ORACLES,
        **relational.ORACLES,
        **tpch_extra.ORACLES,
        **events_queries.ORACLES,
        **inference_queries.ORACLES,
        **text_queries.ORACLES,
        **vector_queries.ORACLES,
        **advanced.ORACLES,
        **pipeline_queries.ORACLES,
        **corpus_queries.ORACLES,
        **warehouse_queries.ORACLES,
        **mining_queries.ORACLES,
        **stats_queries.ORACLES,
        **tsa_queries.ORACLES,
        **diagnostics_queries.ORACLES,
    }

"""The benchmark's workloads: which catalog queries run, on which input.

Each workload is a subset of ``__spark_entry__.queries()`` whose pass takes
a few seconds on a 4-core box, so a run (a cold set-up, four warm-up passes,
10 s of timed passes and a check pass) stays under a minute while keeping
the layer the workload exists to stress. ``BENCHMARK.json`` lists
``integration_etl`` and ``llm_curation``, which between them reach every
layer. ``iterative_graph`` and ``tpch_sf1`` run only by hand
(``--workload NAME``): 22 more runs of either do not fit the benchmark's
time budget beside the other two.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    copies: int = 1  # 1: the sf0.1 tables; 10: their sf1 blow-up
    warmup_table: str = "nation"
    gated: tuple[str, ...] = ()  # written through sinks.write_with_quality_gate


WORKLOADS = {w.name: w for w in (
    Workload(
        name="integration_etl",
        why="short floor-bound integration, cleaning and profiling queries; "
            "the only workload whose outputs are written through the "
            "quality-gated sink",
        queries=("integration_entities", "p_norm_phone", "d1_surrogate_key",
                 "a1_null_profile", "a5_duplicate_keys", "j_anti_join"),
        warmup_table="customer",
        gated=("integration_entities",),
    ),
    Workload(
        name="llm_curation",
        why="execution-bound corpus curation: explode-heavy dedup and "
            "similarity shuffles and the Arrow boundary to Python workers",
        queries=("exact_dedup_documents", "cosine_topk",
                 "multimodal_features", "pii_redaction", "doc_chunking"),
        warmup_table="documents",
    ),
    Workload(
        name="iterative_graph",
        why="graph iteration: per-round jobs started while the query is "
            "built, with iteration driving and lineage truncation",
        queries=("hits_knn",),
        warmup_table="embeddings",
    ),
    Workload(
        name="tpch_sf1",
        why="sf1 input above the 64m broadcast threshold: sort-merge "
            "shuffle joins beside broadcast ones, and large scans",
        queries=("q21_waiting_suppliers",),
        copies=10,
        warmup_table="lineitem",
    ),
)}

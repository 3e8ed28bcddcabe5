"""Streaming corpus ingest: the batch corpus-cleaning stages running
unchanged over a document STREAM — the continuous-ingestion shape of the
training-data pipeline (new crawl shards arrive; each is gated, deduped
against the recent horizon, and appended).

Batch-first contract as everywhere in ``streaming/``: the transform is
one function valid for both a batch DataFrame and a streaming one;
``tests/test_streaming.py`` asserts stream == batch on a duplicated
corpus. State stays bounded: the only stateful operator is the
fingerprint dedup, and it uses ``dropDuplicatesWithinWatermark`` — state
∝ (watermark horizon × arrival rate), never corpus size. Everything
else (language gate, quality gate, fingerprints) is stateless map-only
expressions, so a 100 TB/day firehose shards across executors with no
coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions import text as T
from data_integration_case_study_spark.streaming.events import streaming_dedup

# Event-time horizon of corpus_ingest's fingerprint dedup: duplicates
# farther apart re-emit, and dedup state is bounded by it.
_DEDUP_HORIZON = "2 days"


def corpus_ingest(docs: DataFrame) -> DataFrame:
    """Gate + dedup a document feed; batch/stream agnostic.

    Stages: language identified (lang != 'und') → quality ≥ 0.6 →
    exact dedup on the content fingerprint within ``_DEDUP_HORIZON``.
    Emits the kept documents with their audit columns (lang_pred,
    quality, fp) — the row-level counterpart of the batch
    ``corpus_retention_funnel`` report.

    Event time: documents carry no timestamp column in this dataset, so
    a deterministic stand-in is derived from doc_id (second-of-day);
    a real feed supplies its ingest/crawl time column instead — the
    dedup contract (state bounded by the horizon; duplicates farther
    apart than the horizon re-emit) is the same either way.
    """
    cleaned = (
        docs.select(
            "doc_id",
            T.lang_id(F.col("text")).alias("lang_pred"),
            T.quality_score(F.col("text")).alias("quality"),
            T.fingerprint(F.col("text")).alias("fp"),
            # +1 day so no stand-in timestamp coincides with the epoch —
            # a row whose event time equals the initial watermark (0) is
            # discarded as late by the streaming dedup
            F.timestamp_seconds(F.col("doc_id") % 86400 + 86400).alias("ts"),
        )
        .filter((F.col("lang_pred") != "und") & (F.col("quality") >= F.lit(0.6)))
    )
    return streaming_dedup(cleaned, ["fp"], "ts", _DEDUP_HORIZON).select(
        "doc_id", "lang_pred", "quality", "fp"
    )


_BLK = 10  # tokens per block — mirrors plans/corpus_queries.paragraph_dedup


def streaming_paragraph_dedup(docs: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Paragraph(block)-level dedup over a document STREAM — the
    continuous form of ``plans/corpus_queries.paragraph_dedup``: every
    block whose fingerprint was already seen inside the watermark horizon
    is dropped corpus-wide, and each document re-assembles from its
    surviving blocks.

    This is a CHAINED-STATEFUL pipeline (Spark ≥3.5 multiple-stateful-
    operator support): explode blocks (stateless) →
    ``dropDuplicatesWithinWatermark`` on the block fingerprint (state ∝
    horizon, not corpus) → a tumbling-window aggregation re-groups the
    surviving blocks per document (a document's blocks share its event
    time, so the window closes once the watermark passes and the doc
    emits exactly once, append mode). Which COPY of a duplicated block
    survives is arrival-order-dependent (as in any streaming dedup); the
    kept fingerprint SET and per-doc counts are deterministic — the test
    asserts exactly that against the batch form.
    """
    toks = T.tokenize(F.col("text"))
    blocks = (
        docs.withColumn("__toks", toks)
        .filter(F.size("__toks") > 0)
        .select(
            "doc_id",
            F.timestamp_seconds(F.col("doc_id") % 86400 + 86400).alias("ts"),
            "__toks",
        )
    )
    exploded = blocks.select(
        "doc_id",
        "ts",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("__toks") - 1) / _BLK).cast("int"))
        ).alias("pos"),
        "__toks",
    ).select(
        "doc_id",
        "ts",
        "pos",
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("pos") * _BLK + 1, _BLK))
        .alias("blk"),
    ).withColumn("fp", T.hash60(F.col("blk")))
    kept = exploded.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["fp"])
    return (
        kept.groupBy(F.window("ts", "1 hour"), "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "blk"))),
                    lambda x: x["blk"],
                ),
            ).alias("clean_text"),
        )
        .select("doc_id", "n_kept", "clean_text")
    )

"""Multimodal column plumbing (SURVEY.md §2.9).

Images/audio/video are opaque ``binary`` payload columns plus a typed
metadata struct — the lakehouse-native representation (the bytes travel
through shuffles/parquet untouched; Spark never interprets them). The
decode / feature-extraction steps are Arrow-batched ``mapInPandas``
stages; the actual codec calls are STUBBED here (no image/audio libraries
in this environment, and the engine must not depend on them) behind
``NotImplementedError``, with a deterministic fake decoder so the full
Spark plumbing — schema contract, batch iteration, partition parallelism —
is real and testable.

At 100 TB: payloads dominate bytes, so (a) keep them out of shuffles
(attach features, then drop or write payload columns to their own parquet
column chunk — columnar pruning makes metadata-only scans cheap), and
(b) size ``spark.sql.files.maxPartitionBytes`` so one task's batch of
payloads fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
        StructField("decoder", StringType()),
    ]
)


def attach_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a multimodal-shaped table from a text corpus: opaque binary
    payload + typed metadata struct (the shape real image/audio ingest
    produces; payload bytes here are the utf-8 text)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("digest"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def real_decoder(payloads) -> list:
    """The production batch decode hook (PIL/libav/etc.) with the
    :func:`extract_features` decoder contract. Deliberately stubbed:
    this environment has no media codecs, and the engine's contract is
    that decoding is a pluggable function."""
    raise NotImplementedError(
        "media decoding requires an image/audio library; inject a decoder "
        "or use fake_batch_decoder for plumbing tests"
    )


def fake_decoder(payload: bytes) -> list[float]:
    """Deterministic per-row stand-in: FEATURE_DIM moments over the raw
    bytes. Kept as the reference definition; the catalog path runs its
    vectorized batch twin :func:`fake_batch_decoder` (value-identical,
    property-tested)."""
    if not payload:
        return [0.0] * FEATURE_DIM
    return [
        float(payload[i % len(payload)]) / 255.0 + (i * 0.001)
        for i in range(FEATURE_DIM)
    ]


def fake_batch_decoder(payloads) -> list:
    """Batch-contract twin of :func:`fake_decoder` (r12, guide §4.2 —
    batch-native code at the Python boundary): receives the whole Arrow
    batch's payloads, concatenates them into ONE uint8 buffer, computes
    every row's gather positions as one integer outer product and
    produces all feature vectors with a single fancy-index gather +
    vectorized float64 arithmetic. Byte-identical values: per element,
    ``buf[start + (i % n)] / 255.0 + i * 0.001`` is the same float64
    expression ``fake_decoder`` evaluates per row; empty payloads zero
    their rows exactly as the per-row form returns ``[0.0]*FEATURE_DIM``.
    """
    import numpy as np

    n = len(payloads)
    if not n:
        return []
    lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=n)
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    grid = np.arange(FEATURE_DIM, dtype=np.int64)
    safe = np.maximum(lens, 1)
    pos = starts[:, None] + (grid[None, :] % safe[:, None])
    pos[lens == 0] = 0
    if len(buf):
        vals = buf[pos.ravel()].astype(np.float64).reshape(n, FEATURE_DIM)
        vals = vals / 255.0 + grid * 0.001
    else:
        vals = np.zeros((n, FEATURE_DIM), dtype=np.float64)
    vals[lens == 0] = 0.0
    return vals.tolist()


# extract_features stamps the output's `decoder` column with this LOGICAL
# decoder identity (the vectorized twin reports the reference name, so
# downstream values — and the oracle — are implementation-agnostic).
fake_batch_decoder.decoder_name = "fake_decoder"


def extract_features(df: DataFrame, decoder=None) -> DataFrame:
    """Decode payloads to feature vectors via Arrow-batched mapInPandas.

    Decoder contract (r12, guide §4.2): a BATCH function — it receives
    the batch's payload sequence and returns one FEATURE_DIM list per
    payload — optionally carrying ``decoder_name`` for the output's
    ``decoder`` column (default: its ``__name__``). Arrow moves payload
    bytes in columnar batches and the hook hands the whole batch to
    vectorized native code; no per-row Python call sits on the features
    path. Default: :func:`fake_batch_decoder` (reports the reference
    identity ``fake_decoder``; values byte-identical).
    """
    import pandas as pd

    if decoder is None:
        decoder = fake_batch_decoder
    name = getattr(decoder, "decoder_name", decoder.__name__)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len),
                    "features": decoder(list(pdf["payload"])),
                    "decoder": name,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, FEATURES_SCHEMA)


RESIZE_LEN = 16

RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("resized", ArrayType(IntegerType())),
    ]
)


def resize_payload(df: DataFrame, out_len: int = RESIZE_LEN) -> DataFrame:
    """'Resize' opaque payloads to a fixed-size byte grid via
    nearest-neighbor sampling — the image-resize analogue (variable-size
    media → the fixed input resolution a feature extractor expects).
    Same Arrow-batched mapInPandas boundary as :func:`extract_features`:
    a real codec's resize replaces the sampling step; the batch
    iteration, schema contract, and partition parallelism are identical.
    Upsamples (repeats bytes) when the payload is shorter than the grid,
    exactly like nearest-neighbor image scaling.

    The per-batch body is VECTORIZED (optimization guide §4.2: hand
    whole batches to native code — NumPy — instead of looping rows in
    Python): all payload bytes concatenate into ONE buffer, the
    nearest-neighbor gather indices for every row compute as one
    integer outer product, and a single fancy-index gather produces the
    whole batch's grid. Byte-identical to the per-row form
    ``[b[(i * n) // out_len] for i in range(out_len)]`` — the same
    floor-division index arithmetic, evaluated as int64 arrays."""
    import numpy as np
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grid_idx = np.arange(out_len, dtype=np.int64)
        for pdf in it:
            payloads = pdf["payload"]
            lens = np.fromiter(
                (len(b) for b in payloads), dtype=np.int64, count=len(payloads)
            )
            if len(payloads):
                buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            else:
                buf = np.empty(0, dtype=np.uint8)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            # per-row gather positions: start + (i * n) // out_len; empty
            # payloads (n == 0) keep index 0 and overwrite with zeros below
            pos = (
                starts[:, None]
                + (grid_idx[None, :] * lens[:, None]) // out_len
            )
            pos[lens == 0] = 0
            cells = (
                buf[pos.ravel()].astype(np.int32).reshape(len(payloads), out_len)
                if len(buf)
                else np.zeros((len(payloads), out_len), dtype=np.int32)
            )
            cells[lens == 0] = 0
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": lens,
                    "resized": list(cells),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, RESIZED_SCHEMA)


def frame_sample(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' over opaque payloads: emit one row per sampled
    offset (video frame-sample shape: one payload → many frames). Pure
    native expressions — the sampling grid is computable without decoding."""
    return df.select(
        "doc_id",
        F.posexplode(
            F.sequence(F.lit(0), F.greatest(F.length("payload") - 1, F.lit(0)), F.lit(every_n_bytes))
        ).alias("frame_idx", "byte_offset"),
    )

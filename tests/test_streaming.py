"""Structured Streaming runner: the batch-defined transforms must produce
identical results when executed as a stream (availableNow drain)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from data_integration_case_study_spark.sources.readers import read_events
from data_integration_case_study_spark.streaming import events as ev

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


@pytest.fixture(scope="module")
def normalized_events_dir(spark, sf_dir):
    # materialize nanos-normalized events so the stream source has a
    # standard µs timestamp column
    d = tempfile.mkdtemp(prefix="events_norm_")
    read_events(spark, sf_dir).write.mode("overwrite").parquet(d)
    return d


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_tumbling_matches_batch(spark, normalized_events_dir):
    batch = ev.tumbling_window_agg(spark.read.parquet(normalized_events_dir))
    q = ev.run_streaming(
        spark, normalized_events_dir, EVENTS_SCHEMA,
        ev.tumbling_window_agg, query_name="t_tumbling",
    )
    q.awaitTermination(120)
    assert _canon(spark.table("t_tumbling")) == _canon(batch)


def test_streaming_dedup_matches_batch_distinct(spark, normalized_events_dir):
    # duplicate the source by reading it twice via union in a batch file,
    # then stream-dedup must converge to the distinct event set
    dup_dir = tempfile.mkdtemp(prefix="events_dup_")
    src = spark.read.parquet(normalized_events_dir)
    src.union(src).write.mode("overwrite").parquet(dup_dir)

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(dup_dir)
    deduped = ev.streaming_dedup(stream, ["event_id"], watermark="10 days")
    q = (
        deduped.groupBy().count()
        .writeStream.format("memory").queryName("t_dedup")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert spark.table("t_dedup").first()["count"] == src.count()


def test_streaming_corpus_ingest_matches_batch(spark, sf_dir):
    # a duplicated corpus streamed through the ingest pipeline converges
    # to the same gated, deduped document set the batch path produces
    from data_integration_case_study_spark.streaming import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup_dir = tempfile.mkdtemp(prefix="docs_dup_")
    docs.union(docs).write.mode("overwrite").parquet(dup_dir)

    batch = ingest.corpus_ingest(spark.read.parquet(dup_dir))
    stream = spark.readStream.schema(docs.schema).parquet(dup_dir)
    q = (
        ingest.corpus_ingest(stream)
        .writeStream.format("memory").queryName("t_ingest")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = _canon(spark.table("t_ingest"))
    assert got == _canon(batch)
    # the gates actually gate: kept set is a strict, non-empty subset
    assert 0 < len(got) < docs.count()


def test_streaming_foreach_batch_parquet_sink(spark, normalized_events_dir):
    sink = tempfile.mkdtemp(prefix="events_sink_")
    ckpt = tempfile.mkdtemp(prefix="events_ckpt_")
    q = ev.run_streaming_foreach_batch(
        spark, normalized_events_dir, EVENTS_SCHEMA,
        ev.tumbling_window_agg, sink, ckpt,
    )
    q.awaitTermination(120)
    batch = ev.tumbling_window_agg(spark.read.parquet(normalized_events_dir))
    assert _canon(spark.read.parquet(sink)) == _canon(batch)


def test_stateful_running_totals_matches_batch(spark, normalized_events_dir):
    from data_integration_case_study_spark.streaming.stateful import running_user_totals

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(normalized_events_dir)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory").queryName("t_state")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # after the drain, the LAST emitted snapshot per user equals the batch agg
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.table("t_state").collect()  # update mode: latest wins per key
    }
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in spark.read.parquet(normalized_events_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(batch)
    for u, (n, s) in batch.items():
        assert got[u][0] == n and abs(got[u][1] - s) < 1e-6


def test_stream_stream_interval_join_matches_batch(spark, normalized_events_dir):
    from data_integration_case_study_spark.streaming.events import (
        stream_stream_interval_join,
    )

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("u"), F.col("ts").alias("click_ts")
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("u"), F.col("ts").alias("buy_ts"),
            F.col("value").alias("buy_value"),
        )
        return clicks, buys

    # batch twin: identical function, watermark no-ops
    bc, bb = sides(spark.read.parquet(normalized_events_dir))
    batch = stream_stream_interval_join(bc, bb, "u", "click_ts", "buy_ts")

    sc_, sb = sides(
        spark.readStream.schema(EVENTS_SCHEMA).parquet(normalized_events_dir)
    )
    q = (
        stream_stream_interval_join(sc_, sb, "u", "click_ts", "buy_ts")
        .writeStream.format("memory").queryName("t_ssjoin")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.table("t_ssjoin")
    assert got.count() == batch.count() > 0
    assert _canon(got) == _canon(batch)


def test_streaming_cdc_merge_equals_batch_merge(spark):
    from data_integration_case_study_spark.operators.merge import merge_upsert
    from data_integration_case_study_spark.streaming.state import run_streaming_merge

    base_dir = tempfile.mkdtemp(prefix="cdc_target_") + "/snap"
    src_dir = tempfile.mkdtemp(prefix="cdc_updates_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ckpt_")

    snapshot = spark.createDataFrame(
        [(k, "base", 1) for k in range(20)], "k long, v string, version long"
    )
    snapshot.write.parquet(base_dir)
    updates = spark.createDataFrame(
        [(k, "upd2", 2) for k in range(0, 20, 2)]
        + [(k, "upd3", 3) for k in range(0, 20, 4)]
        + [(99, "new", 1)],
        "k long, v string, version long",
    )
    updates.write.mode("overwrite").parquet(src_dir)

    q = run_streaming_merge(
        spark, src_dir, updates.schema, base_dir, ["k"], "version", ckpt
    )
    q.awaitTermination(120)

    got = spark.read.parquet(base_dir)
    want = merge_upsert(snapshot, updates, ["k"], "version")
    assert _canon(got) == _canon(want)
    # spot-check the last-wins semantics end to end
    rows = {r["k"]: (r["v"], r["version"]) for r in got.collect()}
    assert rows[0] == ("upd3", 3) and rows[2] == ("upd2", 2)
    assert rows[1] == ("base", 1) and rows[99] == ("new", 1)


def test_streaming_paragraph_dedup_chained_stateful(spark, sf_dir):
    """Chained stateful operators (block dedup -> windowed reassembly) over
    a duplicated document stream, across a checkpointed restart:

    phase 1 streams originals + same-event-time copies (nothing emits -
    append mode holds windows open until the watermark passes); phase 2
    adds a late 'sentinel' shard whose event time closes the earlier
    windows, and the flushed output must show every duplicated pair
    deduped at BLOCK level: the pair's combined kept-block count equals
    one document's block count."""
    from data_integration_case_study_spark.streaming import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # +50 days of seconds: distinct ids, IDENTICAL derived event time
    offset = 86400 * 50
    copies = docs.select((F.col("doc_id") + offset).alias("doc_id"), "text")
    dup_dir = tempfile.mkdtemp(prefix="docs_pd_")
    ck = tempfile.mkdtemp(prefix="ck_pd_")
    out_dir = tempfile.mkdtemp(prefix="out_pd_")
    docs.unionByName(copies).repartition(4).write.mode("overwrite").parquet(dup_dir)

    def run():
        # file-based sink via foreachBatch: unlike the memory sink it
        # supports checkpoint RECOVERY, which phase 2 depends on
        stream = spark.readStream.schema(docs.schema).parquet(dup_dir)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            ingest.streaming_paragraph_dedup(stream, watermark="30 minutes")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        try:
            return spark.read.parquet(out_dir).collect()
        except Exception:
            return []  # no emissions -> no files yet

    first = run()
    assert first == []  # watermark has not passed any window yet

    # the late shard: one doc at the last derived second of the day closes
    # every earlier window once processed
    spark.createDataFrame(
        [(86399, "flush sentinel document with enough words to form a block")],
        "doc_id long, text string",
    ).write.mode("append").parquet(dup_dir)
    emitted = {r["doc_id"]: r for r in run()}
    assert emitted, "watermark passage must flush the held windows"

    # the synthetic corpus contains whole-document duplicates, whose
    # blocks dedup against OTHER docs too — the clean pair invariant only
    # holds for docs whose blocks are globally unique among the originals
    from data_integration_case_study_spark.functions import text as T

    toks = T.tokenize(F.col("text"))
    blocks = docs.withColumn("__toks", toks).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("__toks") - 1) / 10).cast("int"))
        ).alias("pos"),
        "__toks",
    ).select(
        "doc_id",
        T.hash60(F.concat_ws(" ", F.slice("__toks", F.col("pos") * 10 + 1, 10))).alias("fp"),
    )
    shared_fps = blocks.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("nd")
    ).filter("nd > 1")
    tainted = {
        r["doc_id"] for r in blocks.join(shared_fps, "fp").select("doc_id").distinct().collect()
    }
    n_blocks = {
        r["doc_id"]: r["nb"]
        for r in blocks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb")).collect()
        if r["doc_id"] not in tainted
    }
    assert n_blocks, "corpus must contain docs with globally-unique blocks"
    checked = 0
    for base_id, nb in n_blocks.items():
        a, b = emitted.get(base_id), emitted.get(base_id + offset)
        if a is None and b is None:
            continue  # pair's window not flushed yet (last hour of the day)
        # block-level dedup across the pair: identical text, so exactly
        # one pair member's worth of blocks survives in total — a doc
        # whose every block lost emits NO row (counts as 0)
        kept = (a["n_kept"] if a else 0) + (b["n_kept"] if b else 0)
        assert kept == nb, base_id
        checked += 1
    assert checked > 0


def test_streaming_kmv_sketch_matches_batch(spark, normalized_events_dir, tmp_path):
    """Streaming KMV maintenance: after consuming the stream in
    microbatches, the persisted sketch equals the batch sketch of all
    data — the merge property, end to end through foreachBatch."""
    from data_integration_case_study_spark.operators.sketches import (
        kmv_distinct,
        kmv_estimate_from_sketch,
    )
    from data_integration_case_study_spark.streaming.state import (
        streaming_kmv_sketch,
    )

    batch = spark.read.parquet(normalized_events_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple merge rounds
        .parquet(normalized_events_dir)
    )
    state = str(tmp_path / "kmv_state")
    q = streaming_kmv_sketch(
        stream, ["event_type"], "user_id", state,
        str(tmp_path / "ckpt"), k=16,
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: (r["kth_min"], r["est_distinct"])
        for r in kmv_estimate_from_sketch(
            spark.read.parquet(state), ["event_type"], k=16
        ).collect()
    }
    want = {
        r["event_type"]: (r["kth_min"], r["est_distinct"])
        for r in kmv_distinct(batch, ["event_type"], "user_id", k=16).collect()
    }
    assert got == want


def test_streaming_cms_sketch_matches_batch(spark, normalized_events_dir, tmp_path):
    """Streaming count-min maintenance: counter-wise merge per
    microbatch (with the batch-id replay guard) converges to the batch
    sketch of all data."""
    from data_integration_case_study_spark.operators.sketches import cms_build
    from data_integration_case_study_spark.streaming.state import (
        streaming_cms_sketch,
    )

    batch = spark.read.parquet(normalized_events_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple merge rounds
        .parquet(normalized_events_dir)
    )
    state = str(tmp_path / "cms_state")
    q = streaming_cms_sketch(
        stream, "user_id", state, str(tmp_path / "ckpt"), depth=4, width=256
    )
    q.awaitTermination(120)

    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in spark.read.parquet(state).collect()
    }
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_build(batch, "user_id", depth=4, width=256).collect()
    }
    assert got == want


def test_stream_static_enrich_matches_batch(spark, normalized_events_dir):
    """Stream-static enrichment is a plain left join of the fact stream
    to a file-backed dimension: stateless (the static side needs no
    watermark and holds no join state, and is re-read per micro-batch),
    and the streamed result equals the batch join with no fact lost."""
    batch_events = spark.read.parquet(normalized_events_dir)
    # static dimension derived once: per-user first-seen timestamp + spend
    dim = (
        batch_events.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_seen"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("decimal(38,0)")
            ).alias("cents"),
        )
    )
    dim_dir = tempfile.mkdtemp(prefix="user_dim_")
    dim.write.mode("overwrite").parquet(dim_dir)
    static_dim = spark.read.parquet(dim_dir)

    def enrich(df):
        return df.select("event_id", "user_id", "event_type").join(
            static_dim, "user_id", "left"
        ).select("event_id", "user_id", "event_type", "first_seen", "cents")

    batch = enrich(batch_events)
    q = (
        enrich(
            spark.readStream.schema(EVENTS_SCHEMA).parquet(normalized_events_dir)
        )
        .writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("t_enrich")
    assert got.count() == batch.count() > 0
    assert _canon(got) == _canon(batch)
    # no dimension row is lost: every event kept (left join)
    assert got.count() == spark.read.parquet(normalized_events_dir).count()


def test_streaming_session_windows_match_batch(spark, normalized_events_dir):
    batch = ev.session_window_agg(spark.read.parquet(normalized_events_dir))
    q = ev.run_streaming(
        spark, normalized_events_dir, EVENTS_SCHEMA,
        ev.session_window_agg, query_name="t_sessions",
    )
    q.awaitTermination(120)
    got = spark.table("t_sessions")
    assert got.count() == batch.count() > 0
    assert _canon(got) == _canon(batch)


def test_streaming_hll_sketch_matches_batch(spark, normalized_events_dir):
    from data_integration_case_study_spark.operators.sketches import (
        hll_estimate_registers,
        hll_sketch,
    )
    from data_integration_case_study_spark.streaming.state import (
        streaming_hll_sketch,
    )

    state = tempfile.mkdtemp(prefix="hll_state_") + "/sketch"
    ckpt = tempfile.mkdtemp(prefix="hll_ckpt_")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(normalized_events_dir)
        .select("event_type", F.col("user_id").cast("string").alias("uid"))
    )
    q = streaming_hll_sketch(stream, ["event_type"], "uid", state, ckpt)
    q.awaitTermination(180)

    streamed = hll_estimate_registers(
        spark.read.parquet(state), ["event_type"]
    )
    batch = hll_sketch(
        spark.read.parquet(normalized_events_dir).select(
            "event_type", F.col("user_id").cast("string").alias("uid")
        ),
        ["event_type"],
        "uid",
    )
    assert _canon(streamed) == _canon(batch)


def test_streaming_ams_sketch_matches_batch(spark, normalized_events_dir):
    """Streaming AMS maintenance: additive counter merge per microbatch
    (batch-id replay guard) converges to the batch sketch of all data."""
    from data_integration_case_study_spark.operators.sketches import (
        ams_counters,
    )
    from data_integration_case_study_spark.streaming.state import (
        streaming_ams_sketch,
    )

    state = tempfile.mkdtemp(prefix="ams_state_") + "/sketch"
    ckpt = tempfile.mkdtemp(prefix="ams_ckpt_")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(normalized_events_dir)
    )
    q = streaming_ams_sketch(stream, ["event_type"], "user_id", state, ckpt)
    q.awaitTermination(180)

    streamed = spark.read.parquet(state).drop("batch_id")
    batch = ams_counters(
        spark.read.parquet(normalized_events_dir), ["event_type"], "user_id"
    )
    assert _canon(streamed) == _canon(batch)


def _drain_ivm(spark, tmp_path) -> str:
    """Drain the IVM stream over ``tmp_path/log`` into its state directory
    (checkpoint ``tmp_path/ckpt``); return that directory."""
    from data_integration_case_study_spark.streaming.state import (
        run_streaming_ivm,
    )

    src, state = str(tmp_path / "log"), str(tmp_path / "state")
    run_streaming_ivm(
        spark, src, spark.read.parquet(src).schema, state,
        keys=["o_orderkey"], group_col="o_orderstatus",
        value_col="o_totalprice", checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination(180)
    return state


def test_streaming_ivm_matches_batch_recompute(spark, sf_dir, tmp_path):
    """Streaming IVM: snapshot + aggregate maintained per micro-batch
    (both committed by one directory rename) converge to the batch CDC
    apply + from-scratch aggregate."""
    from data_integration_case_study_spark.operators.merge import (
        merge_apply_changes,
    )
    from data_integration_case_study_spark.plans.warehouse_queries import (
        _orders_change_log,
    )
    from data_integration_case_study_spark.streaming.state import read_ivm_state

    log = _orders_change_log(spark, sf_dir)
    # one file per version -> three micro-batches in log order
    for v in (1, 2, 3):
        log.filter(F.col("version") == v).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / "log"))
    state = _drain_ivm(spark, tmp_path)
    snap, agg = read_ivm_state(spark, state)
    assert snap is not None
    want_snap = merge_apply_changes(
        log.limit(0).drop("op"), log, ["o_orderkey"]
    )
    want_agg = want_snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(38,8)")).alias("value_sum"),
    )
    assert _canon(snap) == _canon(want_snap)
    assert _canon(agg) == _canon(want_agg)

    # a restart over the same checkpoint replays nothing and changes
    # nothing (the _BATCH replay guard)
    _drain_ivm(spark, tmp_path)
    snap2, agg2 = read_ivm_state(spark, state)
    assert _canon(snap2) == _canon(snap)
    assert _canon(agg2) == _canon(agg)

    # inside a crashed swap's rename window the committed pair sits at
    # state.prev; the pure reader still sees it
    os.rename(state, state + ".prev")
    snap3, agg3 = read_ivm_state(spark, state)
    assert _canon(snap3) == _canon(want_snap)
    assert _canon(agg3) == _canon(want_agg)


def test_streaming_ivm_ignores_uncommitted_state(spark, sf_dir, tmp_path):
    """A half-written staging copy (the crash window before the swap's
    rename) must be invisible to readers and discarded on the next run,
    which rebuilds the state from the source."""
    from data_integration_case_study_spark.plans.warehouse_queries import (
        _orders_change_log,
    )
    from data_integration_case_study_spark.streaming.state import read_ivm_state

    log = _orders_change_log(spark, sf_dir).filter(F.col("version") == 1)
    log.coalesce(1).write.parquet(str(tmp_path / "log"))
    state = str(tmp_path / "state")
    # plant a HALF-WRITTEN staging copy (snapshot, no agg, no marker):
    # simulates a crash after the first write but before the swap
    log.limit(3).drop("op").write.parquet(
        os.path.join(state + ".staging", "snapshot")
    )
    assert read_ivm_state(spark, state) == (None, None)

    _drain_ivm(spark, tmp_path)
    snap, agg = read_ivm_state(spark, state)
    # the batch rebuilt the state from scratch: full v1 row count, not
    # the planted 3-row leftover
    assert snap.count() == log.count()
    assert agg.agg(F.sum("n_rows")).collect()[0][0] == log.count()
    assert not os.path.exists(state + ".staging")


def test_space_saving_exact_when_m_covers_domain(spark, normalized_events_dir):
    from data_integration_case_study_spark.streaming.stateful import space_saving_topk

    src = spark.read.parquet(normalized_events_dir)
    n_items = src.select("user_id").distinct().count()
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(normalized_events_dir)
        .filter(F.col("user_id").isNotNull())
        .select("event_type", F.col("user_id").alias("item"))
    )
    q = (
        space_saving_topk(stream, m=n_items + 1)
        .writeStream.format("memory").queryName("t_ss_exact")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("t_ss_exact").collect()
    last_seq = {}
    for r in rows:
        last_seq[r["event_type"]] = max(last_seq.get(r["event_type"], 0), r["upd_seq"])
    got = {
        (r["event_type"], r["item"]): (r["est_count"], r["err"])
        for r in rows
        if r["upd_seq"] == last_seq[r["event_type"]]
    }
    batch = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in src.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # m covers the whole item domain: Space-Saving degenerates to exact
    assert set(got) == set(batch)
    for k, n in batch.items():
        assert got[k] == (n, 0), k


def test_space_saving_guarantees_with_small_m(spark, normalized_events_dir):
    from data_integration_case_study_spark.streaming.stateful import space_saving_topk

    M = 4
    src = spark.read.parquet(normalized_events_dir).filter(
        F.col("user_id").isNotNull()
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(normalized_events_dir)
        .filter(F.col("user_id").isNotNull())
        .select("event_type", F.col("user_id").alias("item"))
    )
    q = (
        space_saving_topk(stream, m=M)
        .writeStream.format("memory").queryName("t_ss_small")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("t_ss_small").collect()
    last_seq = {}
    for r in rows:
        last_seq[r["event_type"]] = max(last_seq.get(r["event_type"], 0), r["upd_seq"])
    final = [r for r in rows if r["upd_seq"] == last_seq[r["event_type"]]]
    true = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in src.groupBy("event_type", "user_id").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r["event_type"]: r["n"]
        for r in src.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    by_type: dict[str, list] = {}
    for r in final:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, counters in by_type.items():
        assert len(counters) <= M
        # invariant: every arrival increments exactly one counter
        assert sum(r["est_count"] for r in counters) == totals[et]
        for r in counters:
            t = true.get((et, r["item"]), 0)
            assert r["est_count"] >= t, (et, r["item"])
            assert r["est_count"] - r["err"] <= t, (et, r["item"])
        # any item with true count > N/m must be tracked
        tracked = {r["item"] for r in counters}
        for (tet, item), n in true.items():
            if tet == et and n > totals[et] / M:
                assert item in tracked, (et, item, n)


def test_streaming_weighted_reservoir_matches_batch(spark, normalized_events_dir):
    """Streaming Efraimidis-Spirakis reservoir: per-microbatch
    union+re-cut of content-hashed keys converges to the batch sample
    of all data (top-k merges; no batch-id guard needed)."""
    from data_integration_case_study_spark.functions.text import hash60
    from data_integration_case_study_spark.streaming.state import (
        streaming_weighted_reservoir,
    )

    state = tempfile.mkdtemp(prefix="wres_state_") + "/reservoir"
    ckpt = tempfile.mkdtemp(prefix="wres_ckpt_")
    proj = lambda df: df.select(  # noqa: E731
        "event_id", (F.col("user_id") % 50 + 1).cast("double").alias("w")
    )
    stream = proj(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(normalized_events_dir)
    )
    q = streaming_weighted_reservoir(stream, "event_id", "w", state, ckpt, k=50)
    q.awaitTermination(180)

    full = proj(spark.read.parquet(normalized_events_dir))
    h = hash60(F.col("event_id").cast("string"))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = F.floor(
        (F.log(u) / F.col("w")) * F.lit(float(1 << 40)) + F.lit(0.5)
    ).cast("long")
    batch = (
        full.select(
            F.col("event_id").alias("id"),
            F.col("w").alias("weight"),
            key.alias("key_scaled"),
        )
        .orderBy(F.desc("key_scaled"), F.asc("id"))
        .limit(50)
    )
    streamed = spark.read.parquet(state)
    assert streamed.count() == 50
    assert _canon(streamed) == _canon(batch)


def test_streaming_histogram_sketch_matches_batch(spark, normalized_events_dir):
    """Streaming histogram maintenance: additive bin-counter merge per
    microbatch (batch-id replay guard) converges to the batch bin
    counts of all data, and the estimated quantiles match the batch
    estimator exactly."""
    from data_integration_case_study_spark.operators.sketches import (
        histogram_bin_counts,
        histogram_estimate,
        histogram_quantiles,
    )
    from data_integration_case_study_spark.streaming.state import (
        streaming_histogram_sketch,
    )

    state = tempfile.mkdtemp(prefix="hist_state_") + "/sketch"
    ckpt = tempfile.mkdtemp(prefix="hist_ckpt_")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(normalized_events_dir)
    )
    q = streaming_histogram_sketch(
        stream, ["event_type"], "value", state, ckpt, lo=0.0, hi=500.0, bins=64
    )
    q.awaitTermination(180)

    batch_df = spark.read.parquet(normalized_events_dir)
    streamed_counts = spark.read.parquet(state).drop("batch_id")
    batch_counts = histogram_bin_counts(
        batch_df, ["event_type"], "value", 0.0, 500.0, 64
    )
    assert _canon(streamed_counts) == _canon(batch_counts)

    streamed_q = histogram_estimate(
        streamed_counts, ["event_type"], 0.0, 500.0, 64
    )
    batch_q = histogram_quantiles(
        batch_df, ["event_type"], "value", 0.0, 500.0, 64
    )
    assert _canon(streamed_q) == _canon(batch_q)


def test_streaming_sketch_heals_interrupted_swap(spark, normalized_events_dir, tmp_path):
    """A crash between the state swap's two renames leaves ``state``
    missing and ``state.prev`` holding the earlier grid. The restarted
    stream must restore that grid and merge into it, not start over as
    if it were the first batch."""
    from data_integration_case_study_spark.operators.sketches import cms_build
    from data_integration_case_study_spark.streaming.state import (
        streaming_cms_sketch,
    )

    events = spark.read.parquet(normalized_events_dir)
    src = str(tmp_path / "src")
    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(events.schema).parquet(src)
        streaming_cms_sketch(
            stream, "user_id", state, ckpt, depth=4, width=256
        ).awaitTermination(120)

    events.filter(F.col("event_id") % 2 == 0).write.parquet(src)
    drain()
    os.rename(state, state + ".prev")  # the planted rename window
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    drain()

    got = {(r["row"], r["col"]): r["cnt"] for r in spark.read.parquet(state).collect()}
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_build(events, "user_id", depth=4, width=256).collect()
    }
    assert got == want
    assert not os.path.exists(state + ".prev")


def test_streaming_sketch_heals_interrupted_swap_without_new_input(
    spark, normalized_events_dir, tmp_path
):
    """The same planted rename window, but the restart finds no new
    files and runs no batch: the loop must still restore ``state`` when
    it starts, so a plain parquet read of it sees the committed grid."""
    from data_integration_case_study_spark.streaming.state import (
        streaming_cms_sketch,
    )

    events = spark.read.parquet(normalized_events_dir)
    src = str(tmp_path / "src")
    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(events.schema).parquet(src)
        streaming_cms_sketch(
            stream, "user_id", state, ckpt, depth=4, width=256
        ).awaitTermination(120)

    events.write.parquet(src)
    drain()
    committed = sorted(map(tuple, spark.read.parquet(state).collect()))
    os.rename(state, state + ".prev")  # the planted rename window
    drain()

    assert committed
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == committed
    assert not os.path.exists(state + ".prev")


def test_streaming_cms_sketch_skips_replayed_batch(spark, normalized_events_dir, tmp_path):
    """Restart after the last batch's state committed but its checkpoint
    commit did not: Spark replays that batch, and the additive count-min
    merge must not count it twice."""
    from data_integration_case_study_spark.operators.sketches import cms_build
    from data_integration_case_study_spark.streaming.state import (
        streaming_cms_sketch,
    )

    batch = spark.read.parquet(normalized_events_dir)
    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(normalized_events_dir)
        )
        streaming_cms_sketch(
            stream, "user_id", state, ckpt, depth=4, width=256
        ).awaitTermination(120)

    def grid():
        return {
            (r["row"], r["col"]): r["cnt"]
            for r in spark.read.parquet(state).collect()
        }

    drain()
    first = grid()
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    drain()

    assert os.path.exists(os.path.join(commits, str(last)))  # batch re-ran
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_build(batch, "user_id", depth=4, width=256).collect()
    }
    assert grid() == first == want

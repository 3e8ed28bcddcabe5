"""Decision-semantics tests for plans/corpus_queries.py — the properties
the oracle hash-check cannot express: what the curation operators
actually guarantee about the corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_case_study_spark.plans import corpus_queries as cq

SF = "/root/testdata/sf0.001"


def test_paragraph_dedup_strips_boilerplate(spark):
    out = cq.paragraph_dedup(spark, SF)
    rows = {r["doc_id"]: r for r in out.collect()}
    # every corpus doc (originals + re-crawl copies) is present
    originals = [k for k in rows if k < 1000000]
    copies = [k for k in rows if k >= 1000000]
    assert originals and copies
    # the boilerplate header block survives in EXACTLY one document
    # corpus-wide (the first re-crawled page in (doc_id, pos) order)
    boiler_carriers = [
        k for k, r in rows.items() if cq._BOILER in r["clean_text"]
    ]
    assert boiler_carriers == [min(copies)]
    # re-crawl copies lose their body blocks too (they dup the original
    # doc's blocks, which sort first): every copy beyond the first keeps
    # at most the blocks its original did not already claim
    for k in copies:
        assert rows[k]["n_kept"] < rows[k]["n_blocks"]
    # originals, which come first in (doc_id, pos) order, keep all their
    # blocks unless they duplicate an earlier original
    n_fully_kept = sum(
        1 for k in originals if rows[k]["n_kept"] == rows[k]["n_blocks"]
    )
    assert n_fully_kept > 0
    # reassembly preserves order: a fully-kept doc round-trips its text
    # (modulo the tokenizer's whitespace normalization)
    d = spark.read.parquet(f"{SF}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for k in originals:
        if rows[k]["n_kept"] == rows[k]["n_blocks"]:
            assert rows[k]["clean_text"] == " ".join(texts[k].split())
            break


def test_cross_corpus_neardup_is_cross_side_only(spark):
    out = cq.cross_corpus_neardup(spark, SF).collect()
    assert out, "the simulated refresh must near-dup against the corpus"
    for r in out:
        # left side is always an incoming id, right side a corpus id
        assert r["new_id"] >= 1000000
        assert r["dup_of"] < 1000000
        assert 0.4 <= r["jaccard"] <= 1.0
    # most refreshed docs should be flagged against their own original
    true_pairs = sum(1 for r in out if r["new_id"] - 1000000 == r["dup_of"])
    assert true_pairs > 0


def test_quality_classifier_score_bounds_and_determinism(spark):
    out = cq.quality_classifier(spark, SF)
    rows = out.collect()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    assert len(rows) == d.count()
    for r in rows:
        # per-token weights are in [-1, 1] milli-units → the mean is too
        assert -1.0 <= r["score"] <= 1.0
        assert r["keep"] == int(r["score"] > 0.0)
    # hash-deterministic: a second run scores identically
    again = {r["doc_id"]: r["score"] for r in cq.quality_classifier(spark, SF).collect()}
    for r in rows:
        assert again[r["doc_id"]] == r["score"]


def test_vocab_overlap_pairs_and_bounds(spark):
    out = cq.vocab_overlap(spark, SF).collect()
    srcs = [
        r["source"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("source").distinct().collect()
    ]
    n = len(srcs)
    assert len(out) == n * (n - 1) // 2
    for r in out:
        assert r["src_a"] < r["src_b"]
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["n_common"] >= 0


def test_minhash_incremental_matches_self_join_on_same_input(spark):
    """Consistency: incremental(new, corpus) finds exactly the cross-side
    subset of the pairs the self-join form finds on new ∪ corpus (same
    signatures, same banding), at the same threshold."""
    from data_integration_case_study_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    new = cq._incoming(spark, SF)
    both = dedup.minhash_candidate_pairs(
        d.unionByName(new), "doc_id", "text",
        n=3, num_hashes=32, bands=8, threshold=0.4,
    )
    cross_from_self = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]), r["jaccard"])
        for r in both.collect()
        if (r["id_a"] >= 1000000) != (r["id_b"] >= 1000000)
    }
    incremental = {
        (r["new_id"], r["dup_of"], r["jaccard"])
        for r in dedup.minhash_incremental_pairs(
            new, d, "doc_id", "text",
            n=3, num_hashes=32, bands=8, threshold=0.4,
        ).collect()
    }
    assert incremental == cross_from_self


def test_merge_apply_changes_delete_semantics(spark):
    """Log-compaction precedence: highest version wins; a winning
    tombstone removes the key; a higher-versioned update resurrects it."""
    from data_integration_case_study_spark.operators.merge import (
        merge_apply_changes,
    )

    target = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, version int"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 2, "U"),   # plain update
            (2, "b", 2, "D"),    # delete beats the v1 base row
            (2, "b3", 3, "U"),   # ...but the v3 update resurrects key 2
            (3, "c", 5, "D"),    # delete with the highest version: gone
            (3, "c4", 4, "U"),
            (4, "d", 1, "U"),    # insert of a new key
            (5, "e", 1, "D"),    # tombstone for a key not in the target
        ],
        "k long, v string, version int, op string",
    )
    out = {r["k"]: r for r in merge_apply_changes(target, changes, ["k"]).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["v"] == "a2" and out[1]["version"] == 2
    assert out[2]["v"] == "b3" and out[2]["version"] == 3
    assert out[4]["v"] == "d"


def test_bpe_train_merges_golden(spark, tmp_path):
    """Hand-computed BPE on 'low low lower': round 1 ties (l,o)/(o,w) at
    freq 3 and must resolve lexicographically to (l,o); round 3 ties
    (low,e)/(e,r) at freq 1 and must resolve to (e,r)."""
    from data_integration_case_study_spark.plans.pipeline_queries import (
        bpe_train_merges,
    )

    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(0, "low low lower")], "doc_id long, text string"
    ).write.parquet(f"{d}/documents.parquet")
    got = [
        (r["round"], r["left_sym"], r["right_sym"], r["pair_freq"])
        for r in bpe_train_merges(spark, d).orderBy("round").collect()
    ]
    assert got == [(1, "l", "o", 3), (2, "lo", "w", 3), (3, "e", "r", 1)]


def test_bpe_train_merges_reads_rewritten_corpus(spark, tmp_path):
    """Merges are trained from the corpus as it is at call time: a
    rewritten documents file in the same session yields its own merges,
    never the previous corpus's."""
    from data_integration_case_study_spark.plans.pipeline_queries import (
        bpe_train_merges,
    )

    d = str(tmp_path / "corpus")

    def train(text):
        spark.createDataFrame(
            [(0, text)], "doc_id long, text string"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return [
            (r["round"], r["left_sym"], r["right_sym"], r["pair_freq"])
            for r in bpe_train_merges(spark, d).orderBy("round").collect()
        ]

    assert train("low low lower") == [
        (1, "l", "o", 3), (2, "lo", "w", 3), (3, "e", "r", 1)]
    assert train("xyz xyz xy") == [
        (1, "x", "y", 3), (2, "xy", "z", 2)]


def test_merge_apply_changes_rejects_unknown_op(spark):
    import pytest as _pytest

    from data_integration_case_study_spark.operators.merge import (
        merge_apply_changes,
    )

    target = spark.createDataFrame([(1, "a", 1)], "k long, v string, version int")
    changes = spark.createDataFrame(
        [(1, "a2", 2, "d")], "k long, v string, version int, op string"
    )
    with _pytest.raises(Exception, match="op must be 'U' or 'D'"):
        merge_apply_changes(target, changes, ["k"]).collect()


def test_weighted_bernoulli_sample_matches_python_replay(spark):
    import hashlib
    import math

    from data_integration_case_study_spark.plans import pipeline_queries as pq

    sf = "/root/testdata/sf0.001"
    rows = {r["o_orderstatus"]: r for r in
            pq.weighted_bernoulli_sample(spark, sf).collect()}
    want = {}
    for r in spark.read.parquet(f"{sf}/orders.parquet").collect():
        p = min(r["o_totalprice"] / 500000.0, 1.0)
        h = int(hashlib.sha256(str(r["o_orderkey"]).encode()).hexdigest()[:15], 16)
        k = h < math.floor(p * float(1 << 60))
        st = want.setdefault(r["o_orderstatus"], [0, 0])
        st[0] += 1
        st[1] += int(k)
    assert set(rows) == set(want)
    for s, (n, kept) in want.items():
        assert rows[s]["n_rows"] == n
        assert rows[s]["n_sampled"] == kept
        # the sampler is calibrated: realized tracks expected
        assert abs(rows[s]["realized_rate"] - rows[s]["expected_rate"]) < 0.08

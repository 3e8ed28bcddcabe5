"""Text functions + dedup suite unit tests (SURVEY §2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions import text as T
from data_integration_case_study_spark.operators import dedup
from data_integration_case_study_spark.operators.graph import connected_components


def test_tokenize_and_ngrams(spark):
    df = spark.createDataFrame([("  a b  c d ",), ("x",), ("",)], "t string")
    rows = df.select(
        T.tokenize("t").alias("toks"),
        T.token_count("t").alias("n"),
        T.word_ngrams(T.tokenize("t"), 2).alias("bigrams"),
    ).collect()
    assert rows[0]["toks"] == ["a", "b", "c", "d"] and rows[0]["n"] == 4
    assert rows[0]["bigrams"] == ["a b", "b c", "c d"]
    assert rows[1]["bigrams"] == []  # shorter than n
    assert rows[2]["toks"] == [] and rows[2]["n"] == 0


def test_lang_id_stopword_argmax(spark):
    df = spark.createDataFrame(
        [("the cat of the hat",), ("le chat et la maison",), ("xyzzy qwerty",),
         ("der hund und die katze",)],
        "t string",
    )
    got = [r["l"] for r in df.select(T.lang_id("t").alias("l")).collect()]
    assert got == ["en", "fr", "und", "de"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world ",), ("hello worlds",)], "t string"
    )
    fps = [r["f"] for r in df.select(T.fingerprint("t").alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]  # case/whitespace-insensitive


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(3, "same text"), (1, "same  TEXT"), (2, "other")], "id long, t string"
    )
    kept = sorted(r["id"] for r in dedup.exact_dedup(df, "t", "id").collect())
    assert kept == [1, 2]


def test_ngram_jaccard_pairs_blocked(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e", "x"), (2, "a b c d f", "x"),
         (3, "a b c d e", "y"),  # same text, different block → no pair
         (4, "p q r s t", "x")],
        "id long, t string, blk string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, "id", "t", "blk", threshold=0.5, n=1).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert abs(pairs[0]["jaccard"] - 4 / 6) < 1e-5  # rounded to 6 decimals


def test_minhash_finds_neardups_not_unrelated(spark):
    near_a = " ".join(f"w{i}" for i in range(40))
    near_b = " ".join(f"w{i}" for i in range(40) if i != 17)  # one token off
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, near_a), (2, near_b), (3, other)], "id long, t string"
    )
    pairs = dedup.minhash_candidate_pairs(df, "id", "t", n=3, threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    sig = dedup.minhash_signatures(df, "id", "t").first()
    assert len(sig["signature"]) == 32


def test_minhash_deterministic(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], "id long, t string")
    s1 = dedup.minhash_signatures(df, "id", "t").first()["signature"]
    s2 = dedup.minhash_signatures(df, "id", "t").first()["signature"]
    assert s1 == s2


def test_minhash_bucket_window_bounds_hot_bucket(spark):
    # degenerate corpus: 300 IDENTICAL docs land in one bucket per band.
    # Exhaustive pairing is 300*299/2 = 44850 pairs; bucket_window=1 emits
    # only the 299 adjacent-chain pairs — connected components still
    # recover the single duplicate cluster.
    text = " ".join(f"tok{i}" for i in range(30))
    df = spark.createDataFrame([(i, text) for i in range(300)], "id long, t string")
    chained = dedup.minhash_candidate_pairs(
        df, "id", "t", n=3, threshold=0.5, bucket_window=1
    ).collect()
    assert len(chained) == 299
    assert all(p["id_b"] == p["id_a"] + 1 and p["jaccard"] == 1.0 for p in chained)
    # the window only DROPS pairs, never invents them: a modest window on a
    # non-degenerate corpus returns a subset of the exhaustive answer
    near_a = " ".join(f"w{i}" for i in range(40))
    near_b = " ".join(f"w{i}" for i in range(40) if i != 17)
    df2 = spark.createDataFrame([(1, near_a), (2, near_b)], "id long, t string")
    got = dedup.minhash_candidate_pairs(
        df2, "id", "t", n=3, threshold=0.5, bucket_window=5
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in got] == [(1, 2)]


def test_connected_components_transitive_chain(spark):
    # a~b~c~d chain + separate pair + long path: transitivity must close
    # clusters the pair list never states directly
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (10, 11), (11, 12), (12, 13), (13, 14)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7,
                   10: 10, 11: 10, 12: 10, 13: 10, 14: 10}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # same answer on the fault-tolerant path: with a session checkpoint
    # directory, reliable checkpoint files must land in it (survive
    # executor loss)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    ckpt = tmp_path / "cc_ckpt"
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(ckpt))
    try:
        got = {
            r["id"]: r["cluster"]
            for r in connected_components(pairs).collect()
        }
    finally:
        # SparkContext has no public unsetter; restore the session default
        # (no directory) so later tests keep local truncation
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert any(p.is_file() for p in ckpt.rglob("*")), (
        "no reliable checkpoint written"
    )


def test_connected_components_local_truncation_writes_no_files(
    spark, monkeypatch
):
    # no session checkpoint directory: every round truncates with an
    # executor-local checkpoint; no reliable checkpoint file is written
    # and the operator leaves the session without a directory
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    frame_cls = type(pairs)  # the session's concrete DataFrame class
    local = []
    real_local = frame_cls.localCheckpoint

    def count_local(self, eager=True, storageLevel=None):
        local.append(eager)
        return real_local(self, eager, storageLevel)

    def no_reliable(self, eager=True):
        raise AssertionError("reliable checkpoint without a directory")

    monkeypatch.setattr(frame_cls, "localCheckpoint", count_local)
    monkeypatch.setattr(frame_cls, "checkpoint", no_reliable)
    assert spark.sparkContext.getCheckpointDir() is None
    got = {r["id"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert local and not any(local)  # lazy, one per truncation
    assert spark.sparkContext.getCheckpointDir() is None


def test_simhash_hamming_small_for_neardups(spark):
    near_a = " ".join(f"w{i}" for i in range(60))
    near_b = " ".join(f"w{i}" for i in range(60) if i != 30)
    other = " ".join(f"z{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, near_a), (2, near_b), (3, other)], "id long, t string"
    )
    pairs = dedup.simhash_near_pairs(df, "id", "t", max_hamming=8).collect()
    assert (1, 2) in [(p["id_a"], p["id_b"]) for p in pairs]
    fps = {r["id"]: r["simhash"] for r in
           dedup.simhash_fingerprints(df, "id", "t").collect()}
    ham_near = bin(fps[1] ^ fps[2]).count("1")
    ham_far = bin(fps[1] ^ fps[3]).count("1")
    assert ham_near < ham_far


def test_phrase_search_matches_python_replay(spark):
    from data_integration_case_study_spark.plans import text_queries as tq

    rows = tq.phrase_search_postings(spark, "/root/testdata/sf0.001")
    got = {(r["phrase"], r["doc_id"]): r for r in rows.collect()}
    want = {}
    for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet").collect():
        toks = [t for t in r["text"].strip().split(" ") if t]
        for phrase, w1, w2 in tq._PHRASES:
            hits = [
                i + 1
                for i in range(len(toks) - 1)
                if toks[i] == w1 and toks[i + 1] == w2
            ]
            if hits:
                want[(phrase, r["doc_id"])] = (len(hits), hits[0])
    assert set(got) == set(want)
    for k, (n, first) in want.items():
        assert got[k]["n_matches"] == n
        assert got[k]["first_pos"] == first


def test_cluster_size_distribution_accounts_for_every_clustered_doc(spark):
    from data_integration_case_study_spark.plans import text_queries as tq

    sf = "/root/testdata/sf0.001"
    dist = tq.cluster_size_distribution(spark, sf).collect()
    clustered = tq.neardup_clusters(spark, sf).count()
    assert sum(r["n_docs"] for r in dist) == clustered
    assert all(r["n_docs"] == r["size"] * r["n_clusters"] for r in dist)
    # the mutated corpus plants pairs, so multi-doc clusters exist
    assert any(r["size"] >= 2 for r in dist)


def test_zipf_fit_matches_python_replay(spark):
    import math

    from data_integration_case_study_spark.plans import text_queries as tq

    sf = "/root/testdata/sf0.001"
    (row,) = tq.zipf_fit_terms(spark, sf).collect()
    from collections import Counter

    tf = Counter()
    for r in spark.read.parquet(f"{sf}/documents.parquet").collect():
        tf.update(t for t in r["text"].strip().split(" ") if t)
    ranked = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
    G = float(1 << 40)
    xs = [math.floor(math.log(float(i + 1)) * G + 0.5) for i in range(len(ranked))]
    ys = [math.floor(math.log(float(c)) * G + 0.5) for _, c in ranked]
    n = float(len(xs))
    sx, sy = float(sum(xs)), float(sum(ys))
    sxx, sxy = float(sum(x * x for x in xs)), float(
        sum(x * y for x, y in zip(xs, ys, strict=True))
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row["n_terms"] == len(ranked)
    assert abs(row["zipf_slope"] - slope) < 1e-5
    # a frequency spectrum is non-increasing in rank: slope must be negative
    assert row["zipf_slope"] < 0.0


def test_containment_join_prefix_detects_subset_not_reverse(spark):
    from data_integration_case_study_spark.operators.dedup import (
        containment_join_prefix,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # doc 2 = the first 5 tokens of doc 1: every 3-gram of 2 is in 1
            (2, "alpha beta gamma delta epsilon"),
            # unrelated
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    rows = containment_join_prefix(docs, "doc_id", "text", threshold=0.9)
    got = {(r["src_id"], r["dst_id"]): r["containment"] for r in rows.collect()}
    assert got == {(2, 1): 1.0}  # subset found, reverse pruned, no noise


def test_containment_threshold_is_exact_not_heuristic(spark):
    from data_integration_case_study_spark.operators.dedup import (
        containment_join_prefix,
    )

    # doc 2 shares 2 of its 4 shingles with doc 1 -> C(2,1) = 0.5; doc 1
    # shares 2 of its 3 -> C(1,2) = 2/3. Both pass t=0.5, neither passes
    # t=0.75 (the filter is the exact value, directed per side)
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),       # shingles: abc bcd cde
            (2, "a b c d x y"),     # shingles: abc bcd cdx dxy
        ],
        "doc_id long, text string",
    )
    lo = containment_join_prefix(docs, "doc_id", "text", threshold=0.5).collect()
    hi = containment_join_prefix(docs, "doc_id", "text", threshold=0.75).collect()
    got = {(r["src_id"], r["dst_id"]): r["containment"] for r in lo}
    assert got[(2, 1)] == 0.5
    assert abs(got[(1, 2)] - 2 / 3) < 1e-12
    assert set(got) == {(2, 1), (1, 2)}
    assert hi == []


def test_quality_threshold_curve_is_monotone(spark):
    from data_integration_case_study_spark.plans.text_queries import (
        quality_threshold_curve,
    )

    rows = quality_threshold_curve(spark, "/root/testdata/sf0.001").collect()
    assert rows
    per_source = {}
    for r in rows:
        assert 0 <= r["n_retained"] <= r["n_docs"]
        assert abs(r["retention"] - r["n_retained"] / r["n_docs"]) < 1e-12
        per_source.setdefault(r["source"], []).append(
            (r["threshold"], r["retention"])
        )
    for src, pts in per_source.items():
        pts.sort()
        # raising the cutoff can only shrink retention
        assert all(a[1] >= b[1] for a, b in zip(pts, pts[1:])), src


def test_heaps_law_fit_growth_is_monotone_concave_fit_sane(spark):
    from data_integration_case_study_spark.plans.text_queries import (
        heaps_law_fit,
    )

    rows = heaps_law_fit(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    # vocabulary and token counts both grow with the prefix
    for a, b in zip(rows, rows[1:]):
        assert b["cum_toks"] > a["cum_toks"]
        assert b["vocab"] >= a["vocab"]
    # sub-linear growth: 0 < beta < 1 for any natural-ish corpus
    assert 0.0 < rows[0]["heaps_beta"] < 1.0
    assert all(r["heaps_beta"] == rows[0]["heaps_beta"] for r in rows)


def test_tokens_col_path_identical_to_text_path(spark, sf_dir):
    """The pre-tokenized input path (tokens_col) must produce exactly the
    pairs the text path does for all three detectors — it is the same
    expression, materialized by the caller instead of inline."""
    from data_integration_case_study_spark.plans.text_queries import _corpus

    corpus = _corpus(spark, sf_dir)
    toked = corpus.select(
        "doc_id", "lang", T.tokenize(F.col("text")).alias("__toks")
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(
        dedup.minhash_candidate_pairs(
            corpus, "doc_id", "text", n=3, num_hashes=32, bands=8,
            threshold=0.5,
        )
    ) == rows(
        dedup.minhash_candidate_pairs(
            toked, "doc_id", "text", n=3, num_hashes=32, bands=8,
            threshold=0.5, tokens_col="__toks",
        )
    )
    assert rows(
        dedup.ngram_jaccard_pairs(
            corpus, "doc_id", "text", "lang", threshold=0.6, n=1
        )
    ) == rows(
        dedup.ngram_jaccard_pairs(
            toked, "doc_id", "text", "lang", threshold=0.6, n=1,
            tokens_col="__toks",
        )
    )
    assert rows(
        dedup.simhash_near_pairs(corpus, "doc_id", "text", 3)
    ) == rows(
        dedup.simhash_near_pairs(
            toked, "doc_id", "text", 3, tokens_col="__toks"
        )
    )


def test_connected_components_round_budget(spark):
    """A path graph needs (length-1) propagation rounds plus one
    no-change round to prove the fixpoint; the loop must converge
    inside exactly that budget and still raise, never return partial
    clusters, one round short of it (pins the max_iter contract the
    r12 probe-frequency experiments relied on)."""
    import pytest

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster"]
        for r in connected_components(chain, max_iter=5).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=4).collect()


def test_ngram_bitset_verify_matches_array_verify(spark, monkeypatch):
    """r12: the window path's fixed-width bitset verify (small numeric
    vocab) must emit exactly the pairs and jaccard doubles of the array
    verify (forced via BITSET_MAX_VOCAB=0), including across the 64-bit
    word boundary (vocab > 64 values -> 2 mask words)."""
    import random

    from data_integration_case_study_spark.functions.text import hash60

    rng = random.Random(7)
    vocab = list(range(1, 101))  # 100 values -> 2 mask words
    docs = []
    for i in range(60):
        k = rng.randint(3, 40)
        docs.append((i, "b%d" % (i % 2), rng.sample(vocab, k)))
    # plant exact/near twins so pairs actually pass the threshold
    docs += [(100 + i, b, list(t)) for i, b, t in docs[:10]]
    df = spark.createDataFrame(docs, "id long, blk string, toks array<long>")
    # hash to longs the way the catalog caller does (hash60 of strings)
    hdf = df.select(
        "id", "blk",
        F.transform(
            F.col("toks"), lambda t: hash60(t.cast("string"))
        ).alias("__ht"),
    )

    def rows(out):
        return sorted(map(tuple, out.collect()))

    fast = dedup.ngram_jaccard_pairs(
        hdf, "id", "t", "blk", threshold=0.3, n=1, tokens_col="__ht",
        block_window=16,
    )
    monkeypatch.setattr(dedup, "BITSET_MAX_VOCAB", 0)
    slow = dedup.ngram_jaccard_pairs(
        hdf, "id", "t", "blk", threshold=0.3, n=1, tokens_col="__ht",
        block_window=16,
    )
    got_fast, got_slow = rows(fast), rows(slow)
    assert got_fast, "test must produce pairs"
    assert got_fast == got_slow


def test_ngram_window_empty_vocabulary_returns_empty_frame(spark, monkeypatch):
    """Numeric token arrays that are all empty probe an empty vocabulary;
    the window path must keep the array verify and return an empty frame
    with its schema, not build a zero-word bitset (whose popcount sum is
    an empty SQL expression)."""
    df = spark.createDataFrame(
        [(1, "a", []), (2, "a", []), (3, "b", [])],
        "id long, blk string, toks array<long>",
    )
    out = dedup.ngram_jaccard_pairs(
        df, "id", "t", "blk", threshold=0.3, n=1, tokens_col="toks",
        block_window=4,
    )
    monkeypatch.setattr(dedup, "BITSET_MAX_VOCAB", 0)
    array_path = dedup.ngram_jaccard_pairs(
        df, "id", "t", "blk", threshold=0.3, n=1, tokens_col="toks",
        block_window=4,
    )
    assert out.collect() == []
    assert out.schema == array_path.schema


_TWIN_TEXT = "the quick brown fox jumps over the lazy dog"

# detector -> call on a frame (id, t, blk); the incremental form takes
# odd ids as the incoming batch and even ids as the retained corpus
_DETECTORS = {
    "ngram": lambda d: dedup.ngram_jaccard_pairs(d, "id", "t", "blk", n=1),
    "ngram_window": lambda d: dedup.ngram_jaccard_pairs(
        d, "id", "t", "blk", n=1, block_window=2
    ),
    "minhash": lambda d: dedup.minhash_candidate_pairs(d, "id", "t"),
    "minhash_window": lambda d: dedup.minhash_candidate_pairs(
        d, "id", "t", bucket_window=2
    ),
    "minhash_incremental": lambda d: dedup.minhash_incremental_pairs(
        d.filter(F.col("id") % 2 == 1), d.filter(F.col("id") % 2 == 0),
        "id", "t",
    ),
    "simhash": lambda d: dedup.simhash_near_pairs(d, "id", "t"),
    "jaccard_prefix": lambda d: dedup.jaccard_join_prefix(d, "id", "t"),
    "containment_prefix": lambda d: dedup.containment_join_prefix(d, "id", "t"),
}


@pytest.mark.parametrize("name", sorted(_DETECTORS))
def test_set_similarity_detectors_on_degenerate_input(spark, name):
    """An empty frame and a one-row frame have no pair: each detector
    returns zero rows with the schema it returns when two twins match."""
    detect = _DETECTORS[name]
    schema = "id long, t string, blk string"
    twins = detect(spark.createDataFrame(
        [(1, _TWIN_TEXT, "x"), (2, _TWIN_TEXT, "x")], schema
    ))
    assert twins.count() > 0
    for rows in ([], [(1, _TWIN_TEXT, "x")]):
        out = detect(spark.createDataFrame(rows, schema))
        assert out.collect() == []
        assert out.schema == twins.schema


def test_one_candidate_and_verify_path():
    """The set-similarity detectors share one candidate-and-verify path:
    ``array_intersect`` is called only by ``_intersection_size``, a join
    keyed on a pair end happens only inside ``_verify_join``, and the
    successor explode ``F.sequence(__r + 1, ...)`` appears only in
    ``_successor_pairs`` and ``sorted_neighborhood_pairs``."""
    import ast
    from pathlib import Path

    tree = ast.parse(Path(dedup.__file__).read_text())
    ends = {"id_a", "id_b", "new_id", "dup_of", "src_id", "dst_id"}

    def name(call):
        return getattr(call.func, "id", getattr(call.func, "attr", None))

    def owners(pred):
        return sorted({
            fn.name
            for fn in tree.body
            if isinstance(fn, ast.FunctionDef)
            for node in ast.walk(fn)
            if isinstance(node, ast.Call) and pred(node)
        })

    def pair_end_join(call):
        keys = call.args[1:2] + [k.value for k in call.keywords if k.arg == "on"]
        return name(call) == "join" and any(
            isinstance(c, ast.Constant) and c.value in ends
            for k in keys
            for c in ast.walk(k)
        )

    def successor_explode(call):
        return name(call) == "sequence" and any(
            isinstance(c, ast.Constant) and c.value == "__r"
            for c in ast.walk(call.args[0])
        )

    assert owners(lambda c: name(c) == "array_intersect") == ["_intersection_size"]
    assert set(owners(pair_end_join)) <= {"_verify_join"}
    assert owners(successor_explode) == [
        "_successor_pairs", "sorted_neighborhood_pairs"
    ]

"""Similarity search + multimodal plumbing tests (SURVEY §2.9)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_integration_case_study_spark.multimodal import binary as mm
from data_integration_case_study_spark.operators import similarity
from data_integration_case_study_spark.sources.readers import read_parquet_table


def test_cosine_topk_exact_small(spark):
    # hand-checkable 2-d vectors
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk_bruteforce(df, df.filter("vec_id = 0"), k=3).collect()
    assert [r["c_id"] for r in out] == [1, 2, 3]
    assert abs(out[0]["cosine"] - 1 / math.sqrt(1.01)) < 1e-12
    assert abs(out[1]["cosine"]) < 1e-12 and abs(out[2]["cosine"] + 1) < 1e-12


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    truth = {
        (r["q_id"], r["c_id"])
        for r in similarity.cosine_topk_bruteforce(e, q, k=5).collect()
    }
    approx = {
        (r["q_id"], r["c_id"])
        for r in similarity.ann_lsh_topk(e, q, k=5, n_planes=4).collect()
    }
    recall = len(truth & approx) / len(truth)
    # 4 planes / 16 buckets over 500 random vectors: recall is partial by
    # design; assert it beats random chance by a wide margin
    assert recall > 0.15, f"recall {recall}"
    # every approx hit must be a genuinely high-cosine pair (no junk)
    assert all(r["rank"] <= 5 for r in
               similarity.ann_lsh_topk(e, q, k=5, n_planes=4).collect())
    # multi-probe searches every 1-bit-flip bucket too: candidate sets are
    # supersets of single-probe, so recall can only go up
    multi = {
        (r["q_id"], r["c_id"])
        for r in similarity.ann_lsh_topk(
            e, q, k=5, n_planes=4, probe_bits=4
        ).collect()
    }
    recall_multi = len(truth & multi) / len(truth)
    assert recall_multi >= recall, (recall_multi, recall)
    assert recall_multi > 0.4, f"multiprobe recall {recall_multi}"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    truth = {
        (r["q_id"], r["c_id"])
        for r in similarity.cosine_topk_bruteforce(e, q, k=5).collect()
    }
    approx = {
        (r["q_id"], r["c_id"])
        for r in similarity.ivf_topk(e, q, k=5, n_cells=8, nprobe=3).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall > 0.3, f"recall {recall}"  # 3 of 8 cells probed


def test_kmeans_trained_ivf_recall(spark, sf_dir):
    # Lloyd's-trained centroids plug into ivf_topk and must not lose to
    # chance; every vector lands in exactly one cell (members partition
    # the corpus)
    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    truth = {
        (r["q_id"], r["c_id"])
        for r in similarity.cosine_topk_bruteforce(e, q, k=5).collect()
    }
    cents = similarity.kmeans_centroids(e, k=8, n_iter=2)
    rows = cents.select("cell", "members").distinct().collect()
    assert sum(r["members"] for r in rows) == e.count()
    # kmeans_centroids' output plugs into ivf_topk AS-IS (no renames)
    approx = {
        (r["q_id"], r["c_id"])
        for r in similarity.ivf_topk(
            e, q, k=5, nprobe=3, centroids=cents
        ).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall > 0.3, f"recall {recall}"
    with pytest.raises(ValueError, match="n_iter"):
        similarity.kmeans_centroids(e, k=8, n_iter=0)


def test_pq_topk_recall_and_shape(spark, sf_dir):
    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    out = similarity.pq_topk(e, q, k=5, sub_dim=8, n_codes=8).collect()
    # exactly k results per query, dense ranks, no self-matches
    by_q = {}
    for r in out:
        assert r["q_id"] != r["c_id"]
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    truth = {
        (r["q_id"], r["c_id"])
        for r in similarity.cosine_topk_bruteforce(e, q, k=5).collect()
    }
    approx = {(r["q_id"], r["c_id"]) for r in out}
    recall = len(truth & approx) / len(truth)
    # 8 random seed codewords per subspace over random vectors is a
    # coarse quantizer; ADC must still beat chance (5/500 ≈ 1%) broadly
    assert recall > 0.1, f"recall {recall}"


def test_topk_strategy_dispatch(spark, sf_dir):
    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    # small corpus → auto picks brute force (exact answer)
    auto = similarity.topk(e, q, k=3, mode="auto")
    brute = similarity.topk(e, q, k=3, mode="brute")
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, brute.collect()))
    # forced-LSH path returns well-formed ranked output
    lsh = similarity.topk(e, q, k=3, mode="lsh", n_planes=4, probe_bits=4)
    assert all(r["rank"] <= 3 for r in lsh.collect())
    with pytest.raises(ValueError, match="unknown mode"):
        similarity.topk(e, q, mode="nope")


def test_embedding_neardup_pairs_synthetic(spark):
    rows = [
        (0, [1.0, 2.0, 3.0], 0), (1, [1.01, 2.0, 3.0], 0),   # near-dup pair
        (2, [-3.0, 1.0, 0.5], 0), (3, [1.0, 2.0, 3.0], 1),   # same vec, other block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = similarity.embedding_neardup_pairs(df, threshold=0.99).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]


def test_pq_explicit_codebooks_match_default(spark, sf_dir):
    # passing the seed codebook explicitly must reproduce the default
    # exactly (the trained-codebook injection point changes nothing when
    # fed the same codewords)
    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    seed_cb = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("j"),
                F.posexplode("embedding").alias("pos", "c_val"))
    )
    default = similarity.pq_topk(e, q, k=5).collect()
    explicit = similarity.pq_topk(e, q, k=5, codebooks=seed_cb).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, explicit))


def test_ivf_pq_composition(spark, sf_dir):
    # the composed index returns IVF-pruned candidates with PQ scores:
    # every hit must appear in the unpruned PQ ranking with the SAME
    # approx_dot (pruning changes the candidate set, never the scores),
    # and recall vs brute force must beat chance
    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    composed = similarity.ivf_pq_topk(e, q, k=5, nprobe=3).collect()
    pq_scores = {
        (r["q_id"], r["c_id"]): r["approx_dot"]
        for r in similarity.pq_topk(e, q, k=10**9).collect()
    }
    for r in composed:
        assert pq_scores[(r["q_id"], r["c_id"])] == r["approx_dot"]
    truth = {
        (r["q_id"], r["c_id"])
        for r in similarity.cosine_topk_bruteforce(e, q, k=5).collect()
    }
    hits = {(r["q_id"], r["c_id"]) for r in composed}
    assert len(truth & hits) / len(truth) > 0.15


def test_semantic_dedup_decision(spark):
    # two identical-vector clusters {0,1,4} and {2,5}; 3 is a singleton.
    # the decision output keeps exactly min-id per cluster and never
    # emits unclustered vectors
    from data_integration_case_study_spark.operators.graph import (
        connected_components,
    )

    rows = [
        (0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (4, [1.0, 2.0, 3.0]),
        (2, [-3.0, 1.0, 0.5]), (5, [-3.0, 1.0, 0.5]),
        (3, [0.0, 1.0, -7.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = similarity.embedding_neardup_pairs_lsh(df, threshold=0.999)
    out = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("vec_id"),
        F.col("cluster").alias("rep_id"),
        (F.col("id") == F.col("cluster")).alias("kept"),
    )
    got = {r["vec_id"]: (r["rep_id"], r["kept"]) for r in out.collect()}
    assert got == {0: (0, True), 1: (0, False), 4: (0, False),
                   2: (2, True), 5: (2, False)}
    assert 3 not in got


def test_multimodal_payload_and_features(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "")], "doc_id long, text string")
    p = mm.attach_payload(df)
    meta = {r["doc_id"]: r["meta"] for r in p.collect()}
    assert meta[1]["n_bytes"] == 11 and meta[1]["mime"] == "text/plain"
    feats = {r["doc_id"]: r for r in mm.extract_features(p).collect()}
    assert len(feats[1]["features"]) == mm.FEATURE_DIM
    assert feats[1]["n_bytes"] == 11 and feats[2]["features"] == [0.0] * mm.FEATURE_DIM
    assert feats[1]["decoder"] == "fake_decoder"
    # determinism across runs (Arrow batch path)
    again = {r["doc_id"]: r["features"] for r in mm.extract_features(p).collect()}
    assert again[1] == feats[1]["features"]


def test_multimodal_features_match_driver_python(spark, sf_dir):
    # the Arrow-batched mapInPandas path must equal plain Python semantics
    # row for row — anchors the one rows-only query in the catalog
    d = read_parquet_table(spark, sf_dir, "documents").limit(50)
    got = {
        r["doc_id"]: r["features"]
        for r in mm.extract_features(mm.attach_payload(d)).collect()
    }
    for r in d.collect():
        assert got[r["doc_id"]] == mm.fake_decoder(r["text"].encode("utf-8"))


def test_real_decoder_stubbed():
    with pytest.raises(NotImplementedError):
        mm.real_decoder([b"bytes"])


def test_frame_sample_grid(spark):
    df = spark.createDataFrame([(1, "x" * 130)], "doc_id long, text string")
    rows = mm.frame_sample(mm.attach_payload(df), every_n_bytes=64).collect()
    assert [(r["frame_idx"], r["byte_offset"]) for r in rows] == [(0, 0), (1, 64), (2, 128)]


def test_projection_signs_match_signature(spark):
    """The LSH bucket key is exactly the sign pattern of projection_dots
    — the reduced space and the ANN index agree by construction."""
    from data_integration_case_study_spark.functions.vector import (
        projection_dots,
        random_hyperplane_signature,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    rows = e.select(
        projection_dots(F.transform("embedding", lambda x: x.cast("double")), 6).alias("proj"),
        random_hyperplane_signature(
            F.transform("embedding", lambda x: x.cast("double")), 6
        ).alias("sig"),
    ).collect()
    for r in rows:
        expect = sum(1 << i for i, v in enumerate(r["proj"]) if v > 0)
        assert r["sig"] == expect


def test_knn_graph_edge_properties(spark):
    from data_integration_case_study_spark.operators.similarity import knn_graph

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    edges = knn_graph(e, k=3, n_planes=4).collect()
    assert edges
    by_src = {}
    for r in edges:
        assert r["src_id"] != r["nbr_id"]
        assert -1.0 <= r["cosine"] <= 1.0
        by_src.setdefault(r["src_id"], []).append(r)
    for src, es in by_src.items():
        es.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in es] == list(range(1, len(es) + 1))
        assert len(es) <= 3
        # ranked by descending cosine
        cosines = [r["cosine"] for r in es]
        assert cosines == sorted(cosines, reverse=True)


def test_resize_payload_fixed_grid_and_upsample(spark):
    from data_integration_case_study_spark.multimodal import binary as mm

    df = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz0123456789"), (2, "ab"), (3, "x")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in mm.resize_payload(mm.attach_payload(df)).collect()}
    for r in out.values():
        assert len(r["resized"]) == mm.RESIZE_LEN
    # downsample: first grid point is byte 0, all points in range
    long_bytes = b"abcdefghijklmnopqrstuvwxyz0123456789"
    assert out[1]["resized"] == [
        long_bytes[(i * len(long_bytes)) // mm.RESIZE_LEN]
        for i in range(mm.RESIZE_LEN)
    ]
    # upsample: a 2-byte payload repeats each byte 8x (nearest neighbor)
    assert out[2]["resized"] == [ord("a")] * 8 + [ord("b")] * 8
    assert out[3]["resized"] == [ord("x")] * 16


def test_knn_graph_recall_vs_exact(spark):
    """Quality floor for the approximate graph: bucket-local kNN must
    recover a meaningful fraction of the TRUE top-3 neighbor edges
    (exact brute-force as truth) — and every edge it does emit must
    carry the exact cosine (already hash-proven; re-checked here against
    the brute-force scores)."""
    from data_integration_case_study_spark.operators.similarity import (
        cosine_topk_bruteforce,
        knn_graph,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    approx = {
        (r["src_id"], r["nbr_id"]): r["cosine"]
        for r in knn_graph(e, k=3, n_planes=4).collect()
    }
    exact = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in cosine_topk_bruteforce(e, e, k=3).collect()
    }
    hits = set(approx) & set(exact)
    recall = len(hits) / len(exact)
    # synthetic embeddings are near-orthogonal (cosines concentrate near
    # 0), the worst case for sign-random-projection buckets: same-bucket
    # probability for a ~90° pair is ~0.5^4 ≈ 6%. The graph must still
    # beat CHANCE (random top-3 overlap = 3/499 ≈ 0.6%) by an order of
    # magnitude — observed ~0.14; real clustered corpora, or more
    # probes/fewer planes (the documented recall levers), push it up
    assert recall > 0.08, recall
    for edge in hits:
        assert abs(approx[edge] - exact[edge]) == 0.0, edge


def test_adaptive_n_planes_grows_with_corpus():
    """Round-3 verdict item: the kNN family must derive its plane count
    from the corpus size so bucket-local pair work stays bounded —
    planes grow with log N, and the DuckDB scalar twin computes the
    identical value (integer-only formula, no float-log2 boundaries)."""
    import duckdb

    from data_integration_case_study_spark.functions.vector import (
        adaptive_n_planes,
        adaptive_n_planes_sql,
    )

    # min clamp, sf0.01/sf0.1 anchor points, max clamp
    assert adaptive_n_planes(1) == 4
    assert adaptive_n_planes(500) == 4          # sf0.01 embeddings
    assert adaptive_n_planes(2000) == 6         # sf0.1 embeddings
    assert adaptive_n_planes(666, target_bucket=16) == 6   # sf0.01 corpus
    assert adaptive_n_planes(2666, target_bucket=16) == 8  # sf0.1 corpus
    assert adaptive_n_planes(10**9) == 16
    # monotone non-decreasing in N, exactly +1 per doubling past the clamp
    planes = [adaptive_n_planes(n) for n in (1, 10, 100, 10**3, 10**4, 10**5)]
    assert planes == sorted(planes)
    assert adaptive_n_planes(32 * (1 << 8)) == 8
    assert adaptive_n_planes(32 * (1 << 8) + 1) == 9
    # DuckDB twin parity across boundaries (incl. exact powers of two)
    con = duckdb.connect()
    for n in (1, 2, 15, 16, 17, 500, 511, 512, 513, 666, 2000, 2666,
              8192, 8193, 10**6, 10**8):
        for bucket in (16, 32):
            expr = adaptive_n_planes_sql(
                f"SELECT * FROM range({n})", target_bucket=bucket
            )
            got = con.execute(f"SELECT {expr}").fetchone()[0]
            assert got == adaptive_n_planes(n, target_bucket=bucket), (n, bucket)


def test_literal_hyperplanes_match_hash_expression_path(spark):
    """The dim-aware literal-hyperplane path must produce bit-identical
    signatures and projections to the per-row sha256 expression path —
    it is a pure evaluation-strategy swap. Also: the width guard fails
    loudly on a ragged vector instead of null-padding silently."""
    from data_integration_case_study_spark.functions.vector import (
        projection_dots,
        random_hyperplane_signature,
    )

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(64)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    for planes in (4, 6):
        slow = {
            r["vec_id"]: r["s"]
            for r in e.select(
                "vec_id", random_hyperplane_signature(F.col("v"), planes).alias("s")
            ).collect()
        }
        fast = {
            r["vec_id"]: r["s"]
            for r in e.select(
                "vec_id",
                random_hyperplane_signature(F.col("v"), planes, dim=64).alias("s"),
            ).collect()
        }
        assert slow == fast
    pslow = e.select(projection_dots(F.col("v"), 8).alias("p")).collect()
    pfast = e.select(projection_dots(F.col("v"), 8, dim=64).alias("p")).collect()
    assert [r["p"] for r in pslow] == [r["p"] for r in pfast]
    # ragged vector -> loud failure, not a silent null-padded signature
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, v array<double>"
    )
    with pytest.raises(Exception, match="expected 64-dim"):
        ragged.select(
            random_hyperplane_signature(F.col("v"), 4, dim=64).alias("s")
        ).collect()


def test_mmr_selection_matches_greedy_replay(spark):
    from data_integration_case_study_spark.plans import vector_queries as vq

    rows = vq.mmr_diverse_selection(spark, "/root/testdata/sf0.001").collect()
    assert [r["sel_rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert len({r["vec_id"] for r in rows}) == 5

    import math

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b, strict=True))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    q = vecs[0]
    rel = {i: cos(v, q) for i, v in vecs.items()}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[: vq._MMR_POOL]
    sel = []
    for _ in range(vq._MMR_K):
        best = None
        for i in pool:
            if i in sel:
                continue
            ms = max((cos(vecs[i], vecs[s]) for s in sel), default=0.0)
            score = vq._MMR_LAM * rel[i] - vq._MMR_MU * ms
            if best is None or (score, -i) > (best[1], -best[0]):
                best = (i, score)
        sel.append(best[0])
    assert [r["vec_id"] for r in rows] == sel
    # rank 1 is the relevance argmax (the query vector itself)
    assert rows[0]["vec_id"] == 0
    assert rows[0]["max_sim_prev"] == 0.0


def test_clustering_coefficient_bounds_and_triangle_consistency(spark):
    from data_integration_case_study_spark.plans import vector_queries as vq

    sf = "/root/testdata/sf0.001"
    rows = vq.clustering_coefficient_knn(spark, sf).collect()
    assert all(0.0 <= r["clustering_coeff"] <= 1.0 for r in rows)
    # Σ per-node triangle counts == 3 * number of triangles
    tri = vq.triangle_count_knn(spark, sf).count()
    assert sum(r["n_triangles"] for r in rows) == 3 * tri
    # degree-1 nodes report 0 by definition
    assert all(
        r["clustering_coeff"] == 0.0 for r in rows if r["degree"] < 2
    )


def test_embedding_drift_identical_halves_is_zero(spark):
    """A corpus whose two halves are IDENTICAL point sets must report
    cosine 1.0 and L2 0.0 per label."""
    from data_integration_case_study_spark.plans.vector_queries import (
        embedding_drift_by_label,
    )
    import tempfile

    rows = []
    for i in range(40):
        vec = [float((i * 7 + j) % 5) / 4.0 for j in range(8)]
        rows.append((2 * i, vec, i % 3))       # even vec_id -> half 0
        rows.append((2 * i + 1, vec, i % 3))   # odd twin, same vector
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tempfile.mkdtemp(prefix="drift_")
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = embedding_drift_by_label(spark, d).collect()
    assert len(got) == 3
    for r in got:
        assert abs(r["centroid_cosine"] - 1.0) < 1e-12
        assert r["centroid_l2"] == 0.0
        assert r["n_first"] == r["n_second"]


def test_embedding_drift_detects_shift(spark):
    """Shifting the second half by a constant offset must lower cosine
    below 1 and yield L2 close to the offset norm."""
    from data_integration_case_study_spark.plans.vector_queries import (
        embedding_drift_by_label,
    )
    import math
    import tempfile

    rows = []
    for i in range(50):
        base = [float((i * 3 + j) % 7) / 6.0 for j in range(4)]
        rows.append((2 * i, base, 0))
        rows.append((2 * i + 1, [v + 0.5 for v in base], 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tempfile.mkdtemp(prefix="drift2_")
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    r = embedding_drift_by_label(spark, d).collect()[0]
    assert r["centroid_cosine"] < 1.0
    # 2^40 grid snap + float32 inputs: ~1e-8 quantization slack
    assert abs(r["centroid_l2"] - math.sqrt(4 * 0.25)) < 1e-6


def test_fake_batch_decoder_matches_per_row():
    """r12 batch codec contract: the vectorized batch decoder must be
    value-identical (same float64 bits) to mapping fake_decoder row by
    row, including empty payloads and the single-byte edge."""
    import random

    from data_integration_case_study_spark.multimodal import binary as mm

    rng = random.Random(11)
    payloads = [
        bytes(rng.randrange(256) for _ in range(rng.choice([0, 1, 3, 7, 8, 9, 200])))
        for _ in range(64)
    ]
    got = mm.fake_batch_decoder(payloads)
    want = [mm.fake_decoder(p) for p in payloads]
    assert got == want
    assert mm.fake_batch_decoder([]) == []


def test_extract_features_batch_decoder(spark):
    """An injected batch decoder receives the batch's payloads and
    stamps its own name; the default path stamps the reference name."""
    from data_integration_case_study_spark.multimodal import binary as mm

    df = spark.createDataFrame(
        [(1, "hello"), (2, "hi")], "doc_id long, text string"
    )
    p = mm.attach_payload(df)

    def my_decoder(payloads):
        return [[float(len(b))] * mm.FEATURE_DIM for b in payloads]

    rows = {
        r["doc_id"]: r
        for r in mm.extract_features(p, decoder=my_decoder).collect()
    }
    assert {r["decoder"] for r in rows.values()} == {"my_decoder"}
    assert rows[1]["features"] == [5.0] * mm.FEATURE_DIM
    assert rows[2]["features"] == [2.0] * mm.FEATURE_DIM
    rows = {r["doc_id"]: r for r in mm.extract_features(p).collect()}
    assert rows[1]["decoder"] == "fake_decoder"
    assert rows[1]["features"] == mm.fake_decoder(b"hello")


_VEC_SCHEMA = "vec_id long, embedding array<double>"


def _both_exact_paths(corpus, queries, k):
    # brute force, and IVF probing every cell (so its candidate set is
    # the whole corpus and its answer must equal brute force)
    return {
        "brute": similarity.cosine_topk_bruteforce(corpus, queries, k=k),
        "ivf": similarity.ivf_topk(corpus, queries, k=k, n_cells=2, nprobe=2),
    }


@pytest.mark.parametrize("bad, why", [
    pytest.param([1.0, None, 2.0], "null component", id="null_component"),
    pytest.param([0.0, 0.0, 0.0], "zero norm", id="zero_norm"),
    pytest.param([1.0, 2.0], "has width 3, c_id 3 has width 2", id="ragged"),
])
def test_exact_rerank_raises_on_degenerate_vectors(spark, bad, why):
    rows = [(0, [1.0, 0.0, 0.5]), (1, [0.0, 1.0, 0.5]), (2, [1.0, 1.0, 1.0]),
            (3, bad)]
    df = spark.createDataFrame(rows, _VEC_SCHEMA)
    for out in _both_exact_paths(df, df.filter("vec_id = 0"), 3).values():
        with pytest.raises(Exception, match=f"{similarity.DEGENERATE_VECTOR}.*{why}"):
            out.collect()


def test_exact_rerank_drops_null_vectors(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, None)]
    df = spark.createDataFrame(rows, _VEC_SCHEMA)
    for name, out in _both_exact_paths(df, df.filter("vec_id < 2"), 5).items():
        got = sorted((r["q_id"], r["c_id"], r["rank"]) for r in out.collect())
        assert got == [(0, 1, 1), (0, 2, 2), (1, 0, 1), (1, 2, 2)], name


def test_exact_rerank_small_and_empty_corpora(spark):
    cols = ["q_id", "c_id", "cosine", "rank"]
    empty = spark.createDataFrame([], _VEC_SCHEMA)
    q = spark.createDataFrame([(0, [1.0, 0.0])], _VEC_SCHEMA)
    out = similarity.cosine_topk_bruteforce(empty, q, k=3)
    assert out.columns == cols and out.collect() == []
    # one-row corpus: the query itself (excluded) or one other vector
    assert similarity.cosine_topk_bruteforce(q, q, k=3).collect() == []
    one = spark.createDataFrame([(7, [2.0, 0.0])], _VEC_SCHEMA)
    got = similarity.cosine_topk_bruteforce(one, q, k=3).collect()
    assert [tuple(r) for r in got] == [(0, 7, 1.0, 1)]
    # k larger than the corpus: every other vector, densely ranked
    rows = [(0, [1.0, 0.0]), (1, [1.0, 1.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, _VEC_SCHEMA)
    for name, out in _both_exact_paths(df, df, 10).items():
        assert out.columns == cols
        by_q = {}
        for r in out.collect():
            by_q.setdefault(r["q_id"], []).append((r["rank"], r["c_id"]))
        assert {q_: sorted(v) for q_, v in by_q.items()} == {
            0: [(1, 1), (2, 2)], 1: [(1, 0), (2, 2)], 2: [(1, 1), (2, 0)],
        }, name


def test_exact_rerank_ties_break_by_candidate_id(spark):
    # three copies of one vector score the same cosine against the query;
    # ranks follow c_id
    rows = [(0, [1.0, 2.0]), (5, [3.0, 1.0]), (3, [3.0, 1.0]), (4, [3.0, 1.0]),
            (1, [-1.0, 0.5])]
    df = spark.createDataFrame(rows, _VEC_SCHEMA)
    for name, out in _both_exact_paths(df, df.filter("vec_id = 0"), 4).items():
        got = [(r["c_id"], r["rank"]) for r in out.orderBy("rank").collect()]
        assert got == [(3, 1), (4, 2), (5, 3), (1, 4)], name


def _grid_cosine_reference(a, b):
    # the engine's arithmetic in pure Python: each double product snapped
    # with floor(x*y*2^40 + 0.5) in IEEE doubles, the integers summed
    # exactly, dot = sum / 2^40, norm = sqrt(sum of snapped squares / 2^40)
    from fractions import Fraction

    def dot(x, y):
        total = sum(Fraction(math.floor(u * v * 2.0**40 + 0.5)) for u, v in zip(x, y))
        return float(total / 2**40)

    return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))


def test_exact_rerank_matches_grid_snapped_reference(spark):
    import random

    for seed in range(3):
        rng = random.Random(seed)
        d = rng.choice([3, 8, 17])
        vecs = {i: [rng.uniform(-2, 2) for _ in range(d)] for i in range(12)}
        df = spark.createDataFrame(list(vecs.items()), _VEC_SCHEMA)
        qids = [0, 1, 2]
        want = {}
        for q_ in qids:
            scored = sorted(
                ((-_grid_cosine_reference(vecs[q_], v), c) for c, v in vecs.items() if c != q_)
            )[:5]
            want.update({(q_, c): (-s, r) for r, (s, c) in enumerate(scored, 1)})
        for name, out in _both_exact_paths(df, df.filter("vec_id < 3"), 5).items():
            got = {(r["q_id"], r["c_id"]): (r["cosine"], r["rank"]) for r in out.collect()}
            assert got == want, (seed, name)

"""Similarity-search tests: brute-force cosine against numpy, ANN
variants (LSH / IVF) recall against brute force on real testdata."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stream_processing_system_spark.operators import similarity
from stream_processing_system_spark.sources.tables import load_table
from tests.helpers import FUZZ, py_det_round


def _vectors_df(spark):
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((50, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), vecs


def test_cosine_topk_matches_numpy(spark):
    df, vecs = _vectors_df(spark)
    q = df.where(F.col("vec_id") == 0).select("embedding")
    got = [(r["vec_id"], r["sim"]) for r in similarity.cosine_topk(df, q, k=5).collect()]

    v0 = vecs[0].astype("float64")
    sims = vecs.astype("float64") @ v0 / (
        np.linalg.norm(vecs.astype("float64"), axis=1) * np.linalg.norm(v0)
    )
    order = sorted(range(50), key=lambda i: (-round(sims[i], 6), i))[:5]
    want = [(i, round(sims[i], 6)) for i in order]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-6


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding")
    brute = {r["vec_id"] for r in similarity.cosine_topk(embs, q, k=10).collect()}
    ann = {r["vec_id"] for r in similarity.ivf_topk(embs, q, k=10).collect()}
    assert 0 in ann
    assert len(brute & ann) >= 5, f"ivf recall too low: {brute & ann}"


def test_lsh_topk_recalls_planted_neighbors(spark, sf_dir):
    """LSH's contract is recall of genuinely similar vectors (high
    cosine ⇒ sign-signatures agree w.h.p.), NOT of the 'top-10' of
    uniform random noise (cosine ~0.4, signatures uncorrelated). So:
    plant 5 near-copies of the query and require they are found."""
    import numpy as np

    embs = load_table(spark, sf_dir, "embeddings")
    base = np.array(
        embs.where(F.col("vec_id") == 0).collect()[0]["embedding"], dtype="float64"
    )
    rng = np.random.RandomState(1)
    planted = [
        (10_000 + i, [float(x) for x in (base + 0.02 * rng.standard_normal(64))])
        for i in range(5)
    ]
    full = embs.select("vec_id", "embedding").union(
        spark.createDataFrame(planted, ["vec_id", "embedding"])
    )
    q = embs.where(F.col("vec_id") == 0).select("embedding")
    ann = {r["vec_id"] for r in similarity.lsh_topk(full, q, k=10).collect()}
    assert 0 in ann
    found = {i for i in ann if i >= 10_000}
    assert len(found) >= 4, f"planted neighbors missed: {found}"


def test_knn_join_exact_matches_numpy(spark):
    df, vecs = _vectors_df(spark)
    got = similarity.knn_join(df, df, k=2, exact=True).collect()
    v = vecs.astype("float64")
    sims = v @ v.T / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    for r in got:
        order = sorted(range(50), key=lambda j: (-round(sims[r["query_id"], j], 6), j))
        assert r["neighbor_id"] == order[r["rnk"] - 1]
    assert len(got) == 50 * 2


def test_knn_join_lsh_is_bucket_consistent(spark):
    df, _ = _vectors_df(spark)
    got = similarity.knn_join(df, df, k=3, exact=False, dim=8).collect()
    # every query finds at least itself (same bucket, sim 1.0, rank 1)
    self_hits = {r["query_id"] for r in got if r["neighbor_id"] == r["query_id"]}
    assert self_hits == set(range(50))
    assert all(1 <= r["rnk"] <= 3 for r in got)


def test_embedding_neardup_finds_planted_duplicate(spark):
    df, vecs = _vectors_df(spark)
    # plant a near-duplicate of vector 3 (tiny perturbation)
    near = [float(x) for x in (vecs[3] + 1e-4).tolist()]
    planted = spark.createDataFrame([(999, near)], ["vec_id", "embedding"])
    full = df.union(planted)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs(
            full, threshold=0.999, dim=8
        ).collect()
    }
    assert (3, 999) in pairs


def test_ivf_persisted_index_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    embs = load_table(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding")
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(embs, path)
    got = similarity.ivf_index_topk(spark, path, q, k=10)
    want = similarity.ivf_topk(embs, q, k=10).collect()
    assert [(r["vec_id"], r["sim"]) for r in got.collect()] == [
        (r["vec_id"], r["sim"]) for r in want
    ]
    # probed centroids must reach the scan as PartitionFilters
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_centroid" in plan


def _clustered_df(spark, n_clusters=8, per=40, dim=64, noise=0.01):
    # noise is per-coordinate: the perturbation NORM is noise*sqrt(dim)
    # (~0.08), i.e. intra-cluster angles ~0.11 rad — the near-dup
    # regime sign-LSH is built for (bit-flip prob ~angle/pi per plane)
    """Planted-cluster corpus with ADVERSARIAL id order: ids 0..per-1
    are all cluster 0, so the untrained first-K-ids codebook draws
    every centroid from one corner of the distribution — exactly the
    ingest-order pathology trained centroids exist to fix."""
    rng = np.random.RandomState(11)
    means = rng.standard_normal((n_clusters, dim))
    means /= np.linalg.norm(means, axis=1, keepdims=True)
    rows, vid = [], 0
    for ci in range(n_clusters):
        for _ in range(per):
            v = means[ci] + noise * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _assign_np(vecs: np.ndarray, cents: list[list[float]]) -> np.ndarray:
    c = np.asarray(cents, dtype="float64")
    v = np.asarray(vecs, dtype="float64")
    sims = (v @ c.T) / (
        np.linalg.norm(v, axis=1, keepdims=True) * np.linalg.norm(c, axis=1)
    )
    return sims.argmax(axis=1), sims.max(axis=1)


def test_trained_centroids_fix_ingest_order_pathology(spark):
    df = _clustered_df(spark)
    vecs = np.array(
        [r["embedding"] for r in df.orderBy("vec_id").collect()], dtype="float64"
    )
    untrained = similarity.train_ivf_centroids(df, iters=0)
    trained = similarity.train_ivf_centroids(df, iters=3)
    _, sim_u = _assign_np(vecs, untrained)
    cells_t, sim_t = _assign_np(vecs, trained)
    # Lloyd's must tighten cells: mean cosine-to-centroid improves
    # decisively once centroids escape cluster 0
    assert sim_t.mean() > sim_u.mean() + 0.2, (sim_t.mean(), sim_u.mean())
    # and the trained cells are balanced: no cell hoards the corpus,
    # at least half the codebook is in use
    counts = np.bincount(cells_t, minlength=16)
    assert counts.max() <= 0.3 * len(vecs), counts
    assert (counts > 0).sum() >= 8, counts


def test_ann_recall_floor_clustered(spark):
    """recall@k floors for the ANN family on clustered data (the
    realistic corpus shape — near-duplicate/topic structure). The
    uniform-random embeddings table is the documented worst case
    (cosine ~N(0, 1/8): nothing is 'near'); its measured recall is in
    PERFORMANCE.md's git history (`git show e9ec005:PERFORMANCE.md`)."""
    df = _clustered_df(spark)
    q = df.where(F.col("vec_id") == 200).select("embedding")  # cluster 5
    brute = {r["vec_id"] for r in similarity.cosine_topk(df, q, k=10).collect()}
    lsh = {r["vec_id"] for r in similarity.lsh_topk(df, q, k=10).collect()}
    ivf = {r["vec_id"] for r in similarity.ivf_topk(df, q, k=10).collect()}
    assert len(brute & lsh) / 10 >= 0.8, brute & lsh
    assert len(brute & ivf) / 10 >= 0.8, brute & ivf
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_join(df, df, k=3, exact=True).collect()
    }
    lshj = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_join_lsh_gemm(df, k=3).collect()
    }
    assert len(exact & lshj) / len(exact) >= 0.8, len(exact & lshj) / len(exact)


def test_ivf_recall_floor_random(spark, sf_dir):
    """Trained-IVF floor on the worst-case random table: mean
    recall@10 over 5 queries >= 0.7 (measured ~0.84; per-query can
    dip to 0.5 when a query sits between cells)."""
    embs = load_table(spark, sf_dir, "embeddings")
    recalls = []
    for qid in [0, 1, 7, 13, 29]:
        q = embs.where(F.col("vec_id") == qid).select("embedding")
        brute = {r["vec_id"] for r in similarity.cosine_topk(embs, q, k=10).collect()}
        ann = {r["vec_id"] for r in similarity.ivf_topk(embs, q, k=10).collect()}
        recalls.append(len(brute & ann) / 10)
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_rp_topk_preserves_cluster_structure(spark):
    """JL distortion (~1/sqrt(out_dim) = 0.25 at 64→16) swamps the
    ~1e-4 sim gaps BETWEEN same-cluster points, so exact top-10
    membership among near-ties is not the contract — cluster
    separation is: every projected top-10 neighbor must come from
    the query's cluster (inter-cluster sims ~0 stay far below
    intra-cluster ~1 after projection), with the query ranked
    first."""
    df = _clustered_df(spark)
    q = df.where(F.col("vec_id") == 200).select("embedding")  # cluster 5
    rp = [r["vec_id"] for r in similarity.rp_topk(df, q, k=10).collect()]
    assert rp[0] == 200
    assert all(200 <= v < 240 for v in rp), rp


def test_knn_join_split_path_identical_to_unsplit(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    whole = similarity.knn_join_lsh_gemm(embs, k=3).collect()
    split = similarity.knn_join_lsh_gemm(embs, k=3, max_bucket_size=16).collect()
    key = lambda r: (r["query_id"], r["rnk"])
    assert sorted(
        [(r["query_id"], r["neighbor_id"], r["sim"], r["rnk"]) for r in whole]
    ) == sorted(
        [(r["query_id"], r["neighbor_id"], r["sim"], r["rnk"]) for r in split]
    )


def test_pq_recall_floor_random(spark, sf_dir):
    """PQ (8 sub × 16 codes, ADC + exact re-rank of 100) floor on the
    worst-case random table: mean recall@10 vs exact dot top-10 over
    3 queries >= 0.65 (measured ~0.83 at sf0.01; dips per-query)."""
    from stream_processing_system_spark.functions import dot_product

    embs = load_table(spark, sf_dir, "embeddings")
    recalls = []
    for qid in [0, 7, 42]:
        q = embs.where(F.col("vec_id") == qid).select("embedding")
        exact = {
            r["vec_id"]
            for r in embs.crossJoin(
                F.broadcast(q.select(F.col("embedding").alias("_q")))
            )
            .select(
                "vec_id", dot_product(F.col("embedding"), F.col("_q")).alias("d")
            )
            .orderBy(F.col("d").desc(), F.col("vec_id").asc())
            .limit(10)
            .collect()
        }
        pq = {
            r["vec_id"]
            for r in similarity.pq_topk(
                embs, q, k=10, n_sub=8, n_codes=16, rerank=100
            ).collect()
        }
        recalls.append(len(exact & pq) / 10)
    assert sum(recalls) / len(recalls) >= 0.65, recalls


def test_pq_codebooks_deterministic_and_used(spark, sf_dir):
    """Training twice gives identical codebooks (the cross-engine
    reproducibility contract), and encoding uses a healthy share of
    each sub-codebook (no collapsed cells)."""
    embs = load_table(spark, sf_dir, "embeddings")
    b1 = similarity.train_pq_codebooks(embs, n_sub=4, n_codes=8)
    b2 = similarity.train_pq_codebooks(embs, n_sub=4, n_codes=8)
    assert b1 == b2
    assert len(b1) == 4 and all(len(b) == 8 for b in b1)
    assert all(len(c) == 16 for b in b1 for c in b)


def test_quantize_int8_error_bounded_by_half_step(spark, sf_dir):
    """Reconstruction error of scalar min/max int8 quantization is
    bounded by half a quantization step of the WIDEST dimension."""
    from stream_processing_system_spark.operators.similarity import quantize_int8
    from stream_processing_system_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    embs = load_table(spark, sf_dir, "embeddings")
    out = quantize_int8(embs)
    spans = embs.select(
        *[F.max(F.col("embedding")[i]) - F.min(F.col("embedding")[i]) for i in range(64)]
    ).first()
    half_step = max(spans) / 255.0 / 2.0
    worst = out.agg(F.max("max_abs_err")).first()[0]
    assert worst <= half_step + 1e-9
    # codes are non-degenerate: not every vector collapses to one sum
    assert out.select("q_sum").distinct().count() > 1


def test_semantic_dedup_drops_planted_duplicate_keeps_first(spark):
    df, vecs = _vectors_df(spark)
    # plant a near-duplicate of vector 3: same cluster by construction,
    # cosine ~1 → the higher id must be the one dropped
    near = [float(x) for x in (vecs[3] + 1e-4).tolist()]
    planted = spark.createDataFrame([(999, near)], ["vec_id", "embedding"])
    full = df.union(planted)
    kept = similarity.semantic_dedup(
        full, n_centroids=4, iters=1, threshold=0.999
    ).collect()
    ids = {r["vec_id"] for r in kept}
    assert 3 in ids and 999 not in ids
    assert ids == set(range(50)) - {999} | {3}  # nothing else dropped
    # every kept row carries its cluster assignment
    assert all(0 <= r["centroid"] < 4 for r in kept)


def test_hard_negatives_are_cross_label_and_close(spark, sf_dir):
    """Every mined pair must share an LSH bucket by construction,
    carry different labels, and clear the similarity floor; the list
    is hardest-first."""
    from stream_processing_system_spark.operators.similarity import (
        hard_negative_pairs,
    )
    from stream_processing_system_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    rows = hard_negative_pairs(embs, min_sim=0.3, limit=50).collect()
    assert len(rows) > 0
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    for r in rows:
        assert r["label_a"] != r["label_b"]
        assert r["sim"] >= 0.3


def test_kmeans_stats_cover_all_vectors_and_separate_planted_clusters(spark):
    """Planted two tight clusters -> k=2 recovers the split with
    near-1 cohesion; membership counts cover every vector once."""
    import numpy as np
    import pandas as pd

    from stream_processing_system_spark.operators.similarity import (
        kmeans_cluster_stats,
    )

    rng = np.random.default_rng(11)
    a = rng.normal(loc=5.0, scale=0.05, size=(40, 8))
    b = rng.normal(loc=-5.0, scale=0.05, size=(40, 8))
    pts = np.vstack([a, b])
    pdf = pd.DataFrame(
        {"vec_id": range(80), "embedding": [r.tolist() for r in pts]}
    )
    df = spark.createDataFrame(pdf)
    out = kmeans_cluster_stats(df, n_centroids=2, iters=2).collect()
    assert sum(r["n_members"] for r in out) == 80
    assert sorted(r["n_members"] for r in out) == [40, 40]
    for r in out:
        assert r["cohesion"] > 0.999, r


def test_mmr_rerank_diversifies(spark, sf_dir):
    """MMR with λ=0 must never pick two near-identical vectors
    back-to-back: the rank-2 pick should differ from plain top-k
    order whenever the top-2 candidates are more similar to each
    other than to anything else. Checked structurally: every pick is
    from the candidate pool, ranks are 1..k, and the rank-1 pick
    equals the cosine top-1."""
    from stream_processing_system_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )
    from stream_processing_system_spark.plans.pipeline import _embs, _query_vec

    embs, q = _embs(spark, sf_dir), _query_vec(spark, sf_dir)
    top = cosine_topk(embs, q, k=20).collect()
    got = mmr_rerank(embs, q, k=5, pool=20).collect()
    pool_ids = {r["vec_id"] for r in top}
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]
    assert all(r["vec_id"] in pool_ids for r in got)
    assert got[0]["vec_id"] == top[0]["vec_id"]
    # mmr scores are non-increasing is NOT guaranteed across rounds,
    # but each pick's penalized score can't exceed its raw sim * λ
    assert all(r["mmr"] <= 0.7 * r["sim"] + 1e-9 for r in got)


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    """IVF+PQ composite: the coarse probe bounds the scan and the
    residual ADC shortlist feeds an exact re-rank, so top-10 recall
    vs brute force should be at least as good as plain IVF's floor
    (the re-rank removes PQ's quantization error from the ranking)."""
    embs = load_table(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding")
    brute = {r["vec_id"] for r in similarity.cosine_topk(embs, q, k=10).collect()}
    ann = {r["vec_id"] for r in similarity.ivfpq_topk(embs, q, k=10).collect()}
    assert 0 in ann
    assert len(brute & ann) >= 5, f"ivfpq recall too low: {brute & ann}"


# --- TwoNN intrinsic dimension (honest replay on literal vectors) -


vec_sets = st.lists(
    st.lists(
        st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
    ),
    min_size=3,
    max_size=10,
)


@pytest.mark.slow
@given(vecs=vec_sets)
@FUZZ
def test_fuzz_intrinsic_dim(spark, vecs):
    from stream_processing_system_spark.operators.similarity import (
        twonn_intrinsic_dim,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = twonn_intrinsic_dim(df, sample_mod=1, max_probes=200).collect()
    # honest replay: exact integer grid (x*1e6 is exact for small
    # ints), brute-force two smallest positive squared distances
    pts = []
    for i, v in enumerate(vecs):
        q = [int(round(x * 1e6)) for x in v]
        pts.append((i, q))
    lrs = []
    for pid, pq in pts:
        d2s = sorted(
            (
                sum((a - b) ** 2 for a, b in zip(pq, q)),
                vid,
            )
            for vid, q in pts
            if vid != pid
        )
        d2s = [(d, v) for d, v in d2s if d > 0]
        if len(d2s) < 2:
            continue
        d1, dd2 = d2s[0][0], d2s[1][0]
        lrs.append(
            math.floor(math.log(float(dd2) / float(d1)) * 1e9 + 0.5)
        )
    assert out[0]["n_probes"] == len(lrs)
    sl = sum(lrs)
    if sl > 0:
        want = py_det_round(2.0 * float(len(lrs)) / (float(sl) / 1e9))
        assert out[0]["intrinsic_dim"] == want
    else:
        assert out[0]["intrinsic_dim"] is None

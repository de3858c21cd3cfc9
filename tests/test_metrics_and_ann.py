"""MAP / classification metrics parity + approximate-ANN recall."""

import numpy as np
from pyspark.sql import functions as F

from deezymatch_spark.operators import (
    brute_force_topk,
    classification_metrics,
    embedding_dup_pairs,
    ivf_topk,
    mean_average_precision,
)
from deezymatch_spark.operators.metrics import average_precision_pandas


def test_average_precision_matches_reference_formula():
    # hand case: labels by descending score [1,0,1,0] -> AP = (1/1 + 2/3)/2
    labels = np.array([1.0, 0.0, 1.0, 0.0])
    scores = np.array([0.9, 0.8, 0.7, 0.6])
    assert abs(average_precision_pandas(labels, scores) - (1 + 2 / 3) / 2) < 1e-12


def test_mean_average_precision(spark):
    rows = [
        ("q1", 0.9, 1, 0), ("q1", 0.8, 0, 1), ("q1", 0.7, 1, 2), ("q1", 0.6, 0, 3),
        ("q2", 0.9, 0, 4), ("q2", 0.8, 1, 5),       # AP = 1/2
        ("q3", 0.9, 0, 6), ("q3", 0.8, 0, 7),       # no positives -> skipped
    ]
    df = spark.createDataFrame(rows, "query string, score double, label int, tie long")
    m = mean_average_precision(df, tie_col="tie").collect()[0]
    assert m.n_queries == 2
    expected = (((1 + 2 / 3) / 2) + 0.5) / 2
    assert abs(m.map - expected) < 1e-9


def test_classification_metrics(spark):
    # tp=2 fp=1 fn=1 tn=2
    rows = [(1, 1), (1, 1), (0, 1), (1, 0), (0, 0), (0, 0)]
    df = spark.createDataFrame(rows, "label int, prediction int")
    m = classification_metrics(df).collect()[0]
    assert (m.tp, m.fp, m.fn, m.tn) == (2, 1, 1, 2)
    assert abs(m.precision - 2 / 3) < 1e-9
    assert abs(m.recall - 2 / 3) < 1e-9
    assert abs(m.accuracy - 4 / 6) < 1e-9


def test_classification_metrics_scaled_exact_integer(spark):
    """scaled=True: every ratio is floor((num*1e6)/den) in pure bigint
    arithmetic — hash-stable across engines by construction."""
    rows = [(1, 1), (1, 1), (0, 1), (1, 0), (0, 0), (0, 0)]
    df = spark.createDataFrame(rows, "label int, prediction int")
    m = classification_metrics(df, scaled=True).collect()[0]
    # tp=2 fp=1 fn=1 tn=2; f1 closed form = 2*2/(2*2+1+1) = 2/3
    assert m.accuracy_micro == (4 * 1_000_000) // 6
    assert m.precision_micro == (2 * 1_000_000) // 3
    assert m.recall_micro == (2 * 1_000_000) // 3
    assert m.f1_micro == (4 * 1_000_000) // 6
    assert (m.tp, m.fp, m.fn, m.tn) == (2, 1, 1, 2)

    # degenerate: no positives predicted or labeled → all-zero ratios
    # except accuracy, no division-by-zero
    neg = spark.createDataFrame([(0, 0), (0, 0)], "label int, prediction int")
    z = classification_metrics(neg, scaled=True).collect()[0]
    assert (z.precision_micro, z.recall_micro, z.f1_micro) == (0, 0, 0)
    assert z.accuracy_micro == 1_000_000


def _emb(spark, n=200):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .where(F.col("vec_id") < n)
    )


def test_ivf_topk_recall_vs_brute_force(spark):
    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 10)
    kw = dict(k=5, metric="cosine", q_id="vec_id", q_vec="embedding",
              c_id="vec_id", c_vec="embedding")
    exact = {
        (r.query_id, r.candidate_id)
        for r in brute_force_topk(q, emb, **kw).collect()
    }
    approx = {
        (r.query_id, r.candidate_id)
        for r in ivf_topk(q, emb, n_lists=8, n_probe=6, **kw).collect()
    }
    # rank-1 self matches always survive (query lives in a probed list)
    assert all((i, i) in approx for i in range(10))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # high-dim random vectors: coarse buckets


def test_refine_centroids_improves_or_matches_recall_at_equal_probes(spark):
    """2 Lloyd iterations over the md5-min seed must not lose recall at
    equal (n_lists, n_probe); the measured sf0.1 gain is recorded in
    PLANS.md. Also pins the Lloyd mechanics: refined centroids are unit
    norm under cosine (spherical k-means) and change vs the seed."""
    import math

    from deezymatch_spark.operators import refine_centroids
    from deezymatch_spark.operators.knn import coarse_centroids

    emb = _emb(spark, n=500)
    q = emb.where(F.col("vec_id") < 20)
    kw = dict(k=5, metric="cosine", q_id="vec_id", q_vec="embedding",
              c_id="vec_id", c_vec="embedding")
    exact = {
        (r.query_id, r.candidate_id)
        for r in brute_force_topk(q, emb, **kw).collect()
    }

    def recall(iters):
        approx = {
            (r.query_id, r.candidate_id)
            for r in ivf_topk(
                q, emb, n_lists=8, n_probe=3, refine_iters=iters, **kw
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0, (r0, r2)

    c = emb.select(F.col("vec_id").alias("candidate_id"),
                   F.col("embedding").alias("_cv"))
    seed = coarse_centroids(c, "candidate_id", "_cv", 8)
    ref = refine_centroids(c, "_cv", seed, iters=2, metric="cosine")
    assert ref != seed
    for v in ref:
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9


def test_knn_preflight_prices_probe_join_exactly(spark):
    """knn_preflight's est_pairs must equal the probe join's actual
    scored-pair volume (pre-window) at the same (n_lists, n_probe) —
    verified by recomputing assignments directly."""
    from deezymatch_spark.operators import knn_preflight
    from deezymatch_spark.operators.knn import (
        centroid_dist_array,
        coarse_centroids,
    )
    from deezymatch_spark.functions.distances import cosine_dist

    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 10)
    pf = {
        r.list_id: (r.n_cand, r.n_probing_queries, r.est_pairs)
        for r in knn_preflight(
            q, emb, n_lists=4, n_probe=2, metric="cosine",
            q_id="vec_id", q_vec="embedding", c_id="vec_id", c_vec="embedding",
        ).collect()
    }
    total = pf.pop(-1)
    assert total[0] == emb.count()                       # every candidate in a list
    assert total[1] == 2 * q.count()                     # n_probe probes per query
    assert total[2] == sum(v[2] for v in pf.values())    # rollup is the sum
    assert all(v[2] == v[0] * v[1] for v in pf.values())

    # actual probe-join volume equals the estimate
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("_cv"))
    cents = coarse_centroids(c, "cid", "_cv", 4)
    ca = c.withColumn(
        "list_id", F.array_min(centroid_dist_array(F.col("_cv"), cents, cosine_dist))["list_id"]
    )
    qa = q.select(
        F.col("vec_id").alias("qid"),
        F.explode(
            F.slice(
                F.array_sort(
                    centroid_dist_array(F.col("embedding"), cents, cosine_dist)
                ), 1, 2,
            ).getField("list_id")
        ).alias("list_id"),
    )
    assert qa.join(ca, "list_id").count() == total[2]


def test_embedding_dup_pairs_lsh_subset_of_exhaustive(spark):
    emb = _emb(spark)
    exact = {
        (r.id1, r.id2)
        for r in embedding_dup_pairs(
            emb, "vec_id", "embedding", cosine_threshold=0.7, exhaustive=True
        ).collect()
    }
    lsh = {
        (r.id1, r.id2)
        for r in embedding_dup_pairs(
            emb, "vec_id", "embedding", cosine_threshold=0.7,
            dim=64, num_planes=4, num_tables=4,
        ).collect()
    }
    assert lsh <= exact
    assert len(exact) > 0
    # sign-LSH recall on threshold-passing pairs
    assert len(lsh) / len(exact) >= 0.3

# ---------------------------------------------------------------- SemDeDup


def _py_semantic_dedup(rows, n_clusters, eps):
    """Independent pure-Python replica of semantic_dedup's published
    semantics (md5-min centroids, argmin cosine assignment, cd-desc
    sweep, any-prior-within-eps drop). Dot products are LEFT FOLDS over
    float64 — the same association order as F.aggregate — so the two
    implementations agree bitwise, not just approximately."""
    import hashlib

    def md5_long(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + float(x) * float(y)
        return s

    def cos(a, b):
        return 1.0 - dot(a, b) / (dot(a, a) ** 0.5 * dot(b, b) ** 0.5)

    cents = [
        v for _, v in sorted(rows.items(), key=lambda kv: (md5_long(kv[0]), kv[0]))
    ][:n_clusters]
    clusters = {}
    for i, v in rows.items():
        d, lid = min((cos(v, c), j + 1) for j, c in enumerate(cents))
        clusters.setdefault(lid, []).append((d, i, v))
    kept = {}
    for lid, members in clusters.items():
        members.sort(key=lambda t: (-t[0], t[1]))
        for rank, (_, i, v) in enumerate(members):
            dup = any(
                cos(v, members[p][2]) <= eps for p in range(rank)
            )
            kept[i] = (lid, not dup)
    return kept


def test_semantic_dedup_matches_python_reference(spark):
    from deezymatch_spark.operators import semantic_dedup

    emb = _emb(spark, n=200)
    rows = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    expected = _py_semantic_dedup(rows, n_clusters=6, eps=0.65)
    got = {
        r.id: (r.list_id, r.kept)
        for r in semantic_dedup(
            emb, "vec_id", "embedding", n_clusters=6, eps=0.65
        ).collect()
    }
    assert got == expected
    # the threshold actually bites: some rows dropped, some kept
    flags = {k for _, k in got.values()}
    assert flags == {True, False}


def test_semantic_dedup_eps_extremes(spark):
    from deezymatch_spark.operators import semantic_dedup

    emb = _emb(spark, n=100)
    all_kept = semantic_dedup(emb, "vec_id", "embedding", n_clusters=4, eps=-1.0)
    assert all(r.kept for r in all_kept.collect())
    one_per = semantic_dedup(emb, "vec_id", "embedding", n_clusters=4, eps=2.0).collect()
    by_cluster = {}
    for r in one_per:
        by_cluster.setdefault(r.list_id, []).append(r.kept)
    # cosine dist <= 2 always holds, so every non-rank-1 row drops:
    # exactly one survivor per (non-empty) cluster
    for flags in by_cluster.values():
        assert sum(flags) == 1


def test_semantic_dedup_kept_monotone_in_eps(spark):
    from deezymatch_spark.operators import semantic_dedup

    emb = _emb(spark, n=150)
    kept_tight = {
        r.id for r in semantic_dedup(
            emb, "vec_id", "embedding", n_clusters=4, eps=0.3
        ).collect() if r.kept
    }
    kept_loose = {
        r.id for r in semantic_dedup(
            emb, "vec_id", "embedding", n_clusters=4, eps=0.7
        ).collect() if r.kept
    }
    # a larger eps can only drop MORE rows (drop predicate is monotone
    # and independent of other rows' kept status)
    assert kept_loose <= kept_tight


def test_refine_centroids_rejects_ragged_vector(spark):
    """One short candidate vector must fail loudly, naming both
    dimensions, instead of silently skewing the per-dimension means."""
    import pytest

    from deezymatch_spark.operators import refine_centroids

    c = spark.createDataFrame(
        [([1.0, 0.0, 0.0],), ([0.0, 1.0, 0.0],), ([0.0, 0.0],)], "vec array<double>"
    )
    seed = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    with pytest.raises(ValueError, match="dimension 2.*dimension 3"):
        refine_centroids(c, "vec", seed, iters=1)

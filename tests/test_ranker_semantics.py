"""Semantic parity tests for candidate_ranker, mirroring the
reference's own pipeline assertions:

- self-match faiss distance ≈ 0 when queries == candidates
  (DeezyMatch/tests/test_pipeline_ngram.py:102-105)
- faiss results invariant to calc_predict
  (tests/test_pipeline_one_col_input.py:156-170)
- length_diff respected on normalized lengths
  (tests/test_pipeline_one_col_input.py:176-199)
- dedup by candidate original spelling keeps best-ranked
  (candidateRanker.py:483-492)
- threshold validation errors (candidateRanker.py:267-295)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deezymatch_spark.operators.ranker import candidate_ranker, validate_ranker_args


def _emb_table(spark, keys, seed=0, dim=8, dup_of=None):
    rng = np.random.Generator(np.random.Philox(seed))
    rows = []
    vecs = {}
    for i, k in enumerate(keys):
        base = dup_of.get(k, k) if dup_of else k
        if base not in vecs:
            vecs[base] = rng.standard_normal(dim).astype(np.float32)
        rows.append((i, k, k.lower().strip(), [float(x) for x in vecs[base]]))
    return spark.createDataFrame(
        rows, "id long, key string, key_norm string, vec array<float>"
    )


def test_self_match_distance_zero(spark):
    keys = ["london", "paris", "berlin", "tokyo"]
    t = _emb_table(spark, keys)
    out = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=100.0, num_candidates=2
    )
    rows = {(r.query_id, r.rank): r for r in out.collect()}
    for q in range(len(keys)):
        top = rows[(q, 1)]
        assert top.candidate_id == q
        assert abs(top.faiss_dist) < 1e-9


def test_faiss_invariant_to_calc_predict(spark):
    t = _emb_table(spark, ["aa", "ab", "bb", "cc"])
    base = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=50.0, num_candidates=3
    ).select("query_id", "rank", "candidate_id", "faiss_dist")
    scorer = lambda a, b: F.lit(0.9)  # stand-in model scorer
    withp = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=50.0, num_candidates=3,
        calc_predict=True, pair_scorer=scorer,
    ).select("query_id", "rank", "candidate_id", "faiss_dist")
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, withp.collect()))


def test_length_diff_filter_on_normalized(spark):
    keys = ["abc", "abcdefghij", "abcd"]
    t = _emb_table(spark, keys)
    out = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=1e9,
        num_candidates=10, length_diff=2,
    )
    for r in out.collect():
        assert abs(len(keys[r.query_id]) - len(keys[r.candidate_id])) <= 2


def test_dedup_keeps_best_ranked_per_original_spelling(spark):
    # two candidate rows with the same ORIGINAL spelling but different
    # vectors: only the better-ranked one survives per query
    q = _emb_table(spark, ["london"])
    rows = [
        (0, "london", "london", [0.0] * 4),
        (1, "london", "london", [10.0] * 4),  # same orig spelling, worse
        (2, "paris", "paris", [1.0] * 4),
    ]
    c = spark.createDataFrame(rows, "id long, key string, key_norm string, vec array<float>")
    qq = spark.createDataFrame(
        [(0, "london", "london", [0.0] * 4)],
        "id long, key string, key_norm string, vec array<float>",
    )
    out = candidate_ranker(
        qq, c, ranking_metric="faiss", selection_threshold=1e9, num_candidates=10
    ).collect()
    ids = [r.candidate_id for r in out]
    assert 0 in ids and 1 not in ids and 2 in ids


def test_conf_metric_orders_by_match_desc(spark):
    t = _emb_table(spark, ["aa", "ab", "zz"])
    scorer = lambda a, b: F.when(a == b, 1.0).otherwise(
        F.lit(1.0) / (F.abs(F.length(a) - F.length(b)) + F.levenshtein(a, b) + 1)
    )
    out = candidate_ranker(
        t, t, ranking_metric="conf", selection_threshold=0.0,
        num_candidates=3, pair_scorer=scorer,
    ).collect()
    for r in out:
        if r.rank == 1:
            assert r.candidate_id == r.query_id  # self has conf 1.0


def test_threshold_validation():
    with pytest.raises(ValueError):
        validate_ranker_args("faiss", -1.0)
    with pytest.raises(ValueError):
        validate_ranker_args("cosine", 1.5)
    with pytest.raises(ValueError):
        validate_ranker_args("nope", 0.5)
    validate_ranker_args("faiss", 3.0)
    validate_ranker_args("conf", 0.5)


def test_conf_requires_scorer(spark):
    t = _emb_table(spark, ["aa"])
    with pytest.raises(ValueError):
        candidate_ranker(
            t, t, ranking_metric="conf", selection_threshold=0.5
        )


def test_num_all_searches_compat(spark):
    """k grows by search_size until num_candidates found; capped at |C|
    (candidateRanker.py:381-398,501-510)."""
    keys = [f"k{i}" for i in range(10)]
    t = _emb_table(spark, keys)
    out = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=1e9,
        num_candidates=3, search_size=2,
    ).collect()
    for r in out:
        assert r.num_all_searches == 4  # 3rd passing candidate in batch 2
    out2 = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=1e9,
        num_candidates=100, search_size=3,
    ).collect()
    for r in out2:
        assert r.num_all_searches == 10  # exhausted: capped at |C|


def test_cosine_zero_norm_vector_is_distance_one(spark):
    """A zero-norm vector has cosine similarity 0 (sklearn's
    convention, the reference's D2) instead of aborting the query with
    DIVIDE_BY_ZERO under ANSI mode."""
    from deezymatch_spark.functions import cosine_dist

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([3.0, 4.0], [0.0, 0.0]), ([1.0, 0.0], [2.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [r.d for r in df.select(cosine_dist("a", "b").alias("d")).collect()]
    assert got == pytest.approx([1.0, 1.0, 0.0])

    rows = [
        (0, "a", "a", [1.0, 0.0]),
        (1, "z", "z", [0.0, 0.0]),
        (2, "b", "b", [1.0, 1.0]),
    ]
    t = spark.createDataFrame(rows, "id long, key string, key_norm string, vec array<float>")
    out = candidate_ranker(
        t, t, ranking_metric="cosine", selection_threshold=1.0, num_candidates=3,
        calc_cosine=True,
    ).collect()
    dist = {(r.query_id, r.candidate_id): r.cosine_dist for r in out}
    assert dist[(1, 1)] == 1.0 and dist[(0, 1)] == 1.0 and dist[(1, 0)] == 1.0
    assert abs(dist[(0, 0)]) < 1e-12


# --------------------------------------------- on-the-fly query= path

_QKEYS = ["London", "  Zürich ", "ﬁeld Ⅻ", "londen", "paris", "Pariss", "berlin"]


@pytest.fixture(scope="module")
def seeded_artifact(tmp_path_factory):
    from deezymatch_spark.api import DEFAULT_TOKENIZE
    from deezymatch_spark.model.numpy_rnn import SiameseRNN
    from deezymatch_spark.model.scorer_udf import save_artifacts

    vocab = {c: i + 1 for i, c in enumerate("|abcdefghijklmnopqrstuvwxyz ")}
    model = SiameseRNN.from_seed(
        9, len(vocab) + 1, hidden_dim=12, embedding_dim=8, n_layers=2,
        pooling_mode="hstates_layers_simple", fc1_out=16,
    )
    path = str(tmp_path_factory.mktemp("seeded") / "model")
    save_artifacts(path, model, vocab, dict(DEFAULT_TOKENIZE))
    return path


def _vect_store(spark, artifact, keys):
    from deezymatch_spark import api

    df = spark.createDataFrame(list(enumerate(keys)), "id long, key string")
    return api.inference(
        spark, artifact, df, inference_mode="vect", key_col="key"
    ).select("id", "key", "key_norm", "vec")


def test_query_vectors_equal_vect_inference(spark, seeded_artifact):
    """Driver-encoded query vectors equal the vect UDF's for ASCII,
    NFKD-expanding non-ASCII, empty and None queries."""
    from deezymatch_spark.api import _query_store

    keys = _QKEYS + ["", None]
    got = {r.id: r for r in _query_store(spark, seeded_artifact, keys).collect()}
    want = {r.id: r for r in _vect_store(spark, seeded_artifact, keys).collect()}
    assert got.keys() == want.keys() == set(range(len(keys)))
    for i in want:
        assert got[i].key == want[i].key and got[i].key_norm == want[i].key_norm
        np.testing.assert_allclose(got[i].vec, want[i].vec, rtol=0, atol=1e-6)
    assert got[1].key_norm == "zürich"  # NFKD lengthened it
    assert got[len(keys) - 1].key_norm is None


def test_query_path_self_match_and_calc_predict_invariance(spark, seeded_artifact):
    from deezymatch_spark import api

    store = _vect_store(spark, seeded_artifact, _QKEYS)
    kw = dict(
        candidates=store, query=_QKEYS, artifact_path=seeded_artifact,
        ranking_metric="faiss", selection_threshold=1e9, num_candidates=3,
    )
    base = api.candidate_ranker(spark, **kw).collect()
    for r in base:
        if r.rank == 1:
            assert r.candidate_id == r.query_id and abs(r.faiss_dist) < 1e-9
    pred = api.candidate_ranker(spark, calc_predict=True, **kw).collect()
    key = lambda r: (r.query_id, r.rank, r.candidate_id)  # noqa: E731
    assert sorted(map(key, base)) == sorted(map(key, pred))
    faiss = {key(r): r.faiss_dist for r in base}
    for r in pred:
        assert abs(r.faiss_dist - faiss[key(r)]) <= 1e-9
        assert r.dl_match is not None and 0.0 <= r.dl_match <= 1.0

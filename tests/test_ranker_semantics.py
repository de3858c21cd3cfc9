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


# ------------------------------- pair-scorer bound (dl_match after top-k)


def _counting_scorer(spark):
    """→ (accumulator, pair_scorer, toy): ``pair_scorer`` is a pandas
    UDF applying ``toy``, a deterministic stand-in for the siamese
    scorer, and adds each evaluated row to the accumulator. ``toy`` is
    nested so the worker unpickles it by value."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def toy(a, b):
        import difflib

        return difflib.SequenceMatcher(None, a or "", b or "").ratio()

    acc = spark.sparkContext.accumulator(0)

    @pandas_udf("double")
    def score(a: pd.Series, b: pd.Series) -> pd.Series:
        acc.add(len(a))
        return pd.Series([toy(x, y) for x, y in zip(a, b)], dtype="float64")

    return acc, lambda a, b: score(a, b), toy


_BOUND_KEYS = [f"{w}{i}" for i in range(6) for w in ("lon", "par", "ber", "tok")]


@pytest.mark.parametrize("metric", ["faiss", "cosine"])
@pytest.mark.parametrize("blocked", [False, True], ids=["cross", "pairs"])
def test_pair_scorer_sees_at_most_q_times_k_rows(spark, metric, blocked):
    """Under faiss/cosine dl_match is a pure projection: the scorer runs
    after the rank cut, on at most |Q|·num_candidates rows, and each
    dl_match is the scorer applied to that row's (query, candidate)."""
    t = _emb_table(spark, _BOUND_KEYS, seed=3)
    q = t.where(F.col("id") < 5)
    pairs = q.select(F.col("id").alias("query_id")).crossJoin(
        t.select(F.col("id").alias("candidate_id"))
    ).where((F.col("query_id") + F.col("candidate_id")) % 2 == 0)
    acc, scorer, toy = _counting_scorer(spark)
    out = candidate_ranker(
        q, t, ranking_metric=metric, selection_threshold=1e9 if metric == "faiss" else 1.0,
        num_candidates=3, calc_predict=True, pair_scorer=scorer,
        pairs=pairs if blocked else None,
    ).collect()
    assert len(out) == 5 * 3
    assert 0 < acc.value <= 5 * 3, acc.value
    for r in out:
        assert abs(r.dl_match - toy(r.query, r.candidate)) <= 1e-6


def _conf_reference(qrows, crows, k, threshold, score):
    """The conf ranking computed on the driver: faiss order, threshold
    on the score, dedup by candidate original spelling (best faiss rank
    kept), then score desc / faiss rank asc, top k."""
    out = set()
    for qid, _, qn, qv in qrows:
        cands = sorted(
            (float(np.sum((np.asarray(qv, np.float64) - np.asarray(cv, np.float64)) ** 2)), cid, ck, cn)
            for cid, ck, cn, cv in crows
        )
        seen, kept = set(), []
        for pos, (_, cid, ck, cn) in enumerate(cands):
            s = score(qn, cn)
            if s >= threshold and ck not in seen:
                seen.add(ck)
                kept.append((-s, pos, cid))
        for rank, (_, _, cid) in enumerate(sorted(kept)[:k], start=1):
            out.add((qid, rank, cid))
    return out


def test_conf_scores_every_pair_and_matches_the_reference(spark):
    """conf keeps scoring before the windows: the scorer sees all
    |Q|×|C| rows and the output equals the driver-side reference,
    including the dedup of repeated original spellings."""
    keys = _BOUND_KEYS + ["lon0", "par1"]  # two repeated original spellings
    t = _emb_table(spark, keys, seed=5)
    rows = [tuple(r) for r in t.collect()]
    q = t.where(F.col("id") < 4)
    acc, scorer, toy = _counting_scorer(spark)
    out = candidate_ranker(
        q, t, ranking_metric="conf", selection_threshold=0.4, num_candidates=4,
        pair_scorer=scorer,
    ).collect()
    assert acc.value >= 4 * len(keys)
    got = {(r.query_id, r.rank, r.candidate_id) for r in out}
    assert got == _conf_reference(rows[:4], rows, 4, 0.4, toy)
    for r in out:
        assert abs(r.dl_match - toy(r.query, r.candidate)) <= 1e-6


# ------------------- the four invariants with calc_predict=True (GRU scorer)


def test_gru_dl_match_equals_the_scorer_per_row(spark, seeded_artifact):
    """Each dl_match from the post-cut scorer equals the siamese p1 of
    that row's (query, candidate), computed on the driver."""
    import pandas as pd

    from deezymatch_spark import api
    from deezymatch_spark.model.scorer_udf import load_artifacts, pair_p1

    store = _vect_store(spark, seeded_artifact, _QKEYS)
    for metric, thr in (("faiss", 1e9), ("cosine", 1.0)):
        out = api.candidate_ranker(
            spark, store, store, artifact_path=seeded_artifact, ranking_metric=metric,
            selection_threshold=thr, num_candidates=3, calc_predict=True,
        ).collect()
        assert len(out) == 3 * len(_QKEYS)
        model, vocab, cfg = load_artifacts(seeded_artifact)
        want = pair_p1(
            model, vocab, cfg,
            pd.Series([r.query for r in out], dtype=object),
            pd.Series([r.candidate for r in out], dtype=object),
        )
        np.testing.assert_allclose([r.dl_match for r in out], want, rtol=0, atol=1e-6)


def test_self_match_zero_under_calc_predict(spark, seeded_artifact):
    from deezymatch_spark import api

    store = _vect_store(spark, seeded_artifact, _QKEYS)
    out = api.candidate_ranker(
        spark, store, store, artifact_path=seeded_artifact, ranking_metric="faiss",
        selection_threshold=1e9, num_candidates=2, calc_predict=True,
    ).collect()
    top = {r.query_id: r for r in out if r.rank == 1}
    assert top.keys() == set(range(len(_QKEYS)))
    for qid, r in top.items():
        assert r.candidate_id == qid and abs(r.faiss_dist) < 1e-9
        assert r.dl_match is not None


def test_length_diff_on_nfkd_lengths_under_calc_predict(spark, seeded_artifact):
    """length_diff compares NFKD-normalized lengths, not raw ones:
    'ﬁﬁﬁ' is 3 characters raw and 6 ('fififi') normalized."""
    from deezymatch_spark import api
    from deezymatch_spark.text import normalize_string

    keys = ["ﬁﬁﬁ", "abc", "fififi", "abcdef"]
    store = _vect_store(spark, seeded_artifact, keys)
    out = api.candidate_ranker(
        spark, store, store, artifact_path=seeded_artifact, ranking_metric="faiss",
        selection_threshold=1e9, num_candidates=10, length_diff=1, calc_predict=True,
    ).collect()
    n = [len(normalize_string(k)) for k in keys]
    want = {(i, j) for i in range(4) for j in range(4) if abs(n[i] - n[j]) <= 1}
    assert {(r.query_id, r.candidate_id) for r in out} == want
    assert (0, 1) not in want and (0, 3) in want  # raw lengths would say the opposite
    assert all(r.dl_match is not None for r in out)


def test_dedup_by_original_spelling_under_calc_predict(spark):
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
    _, scorer, toy = _counting_scorer(spark)
    out = candidate_ranker(
        qq, c, ranking_metric="faiss", selection_threshold=1e9, num_candidates=10,
        calc_predict=True, pair_scorer=scorer,
    ).collect()
    assert sorted(r.candidate_id for r in out) == [0, 2]
    assert {r.candidate_id: r.dl_match for r in out} == {0: 1.0, 2: toy("london", "paris")}

"""``api.inference`` runs one Python pass per partition: the store
build (vect) and the pair scoring (test) each plan exactly one
``ArrowEvalPython`` node, and their rows equal the chained form —
``normalize_udf`` feeding the model UDFs — that they replace."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deezymatch_spark import api
from deezymatch_spark.functions.udfs import normalize_udf
from deezymatch_spark.model.scorer_udf import (
    make_encode_vec_udf,
    make_missing_ratio_udf,
    make_pair_scorer_udf,
)

# None, '', NFKD-expanding and lengthening strings, and tokens outside
# the seeded vocabulary (digits), which raise the missing-char ratio
_ODD = [None, "", "  Zürich ", "ﬁeld Ⅻ", "ﬁﬁﬁ", "Ⅻ", "London", "12 main st", "4711"]


def _python_nodes(df) -> int:
    """ArrowEvalPython nodes in the final executed plan (call after an
    action, so AQE's final plan is the one read)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].count("ArrowEvalPython")


def test_vect_store_is_one_python_pass(spark, seeded_artifact):
    # 1,509 rows in one partition: one Arrow batch above the encoder's
    # 1,024-row length-sorted chunk
    keys = _ODD + [f"name {i} " * (i % 7 + 1) for i in range(1500)]
    df = spark.createDataFrame(list(enumerate(keys)), "id long, key string").coalesce(1)
    store = api.inference(spark, seeded_artifact, df, inference_mode="vect", key_col="key")
    assert store.columns == ["id", "key", "key_norm", "vec"]
    got = {r.id: r for r in store.collect()}
    assert _python_nodes(store) == 1

    chained = df.withColumn("key_norm", normalize_udf(F.col("key"))).withColumn(
        "vec", make_encode_vec_udf(seeded_artifact)(F.col("key_norm"))
    )
    want = {r.id: r for r in chained.collect()}
    assert got.keys() == want.keys() == set(range(len(keys)))
    for i, w in want.items():
        assert got[i].key == w.key and got[i].key_norm == w.key_norm
        assert np.array_equal(np.asarray(got[i].vec), np.asarray(w.vec)), keys[i]
    assert got[0].key_norm is None and got[1].key_norm == ""
    assert got[3].key_norm == "field xii"


def _pairs(spark):
    rows = []
    for i in range(40):
        a = _ODD[i % len(_ODD)]
        b = _ODD[(i * 5 + 1) % len(_ODD)]
        rows.append((i, a, f"{b or ''} {i}", i % 3 == 0))
    return spark.createDataFrame(
        rows, "original_index long, s1 string, s2 string, label boolean"
    ).repartition(3)


@pytest.mark.parametrize(
    "kw",
    [{}, {"missing_char_threshold": None}, {"cutoff": 8, "missing_char_threshold": 0.3}],
    ids=["default", "no-threshold", "cutoff"],
)
def test_test_mode_is_one_python_pass_and_unchanged(spark, seeded_artifact, kw):
    df = _pairs(spark)
    out = api.inference(spark, seeded_artifact, df, inference_mode="test", **kw)
    got = out.collect()
    assert _python_nodes(out) == 1

    # the chained form: normalize_udf, then the siamese scorer and the
    # missing-char ratio on the normalized strings; cutoff and the ratio
    # filter applied here on the driver, in input order
    p1 = make_pair_scorer_udf(seeded_artifact, mode="siamese")
    ratio = make_missing_ratio_udf(seeded_artifact)
    n1, n2 = normalize_udf(F.col("s1")), normalize_udf(F.col("s2"))
    ref = sorted(
        df.select(
            "original_index", "s1", "s2", p1(n1, n2).alias("p1"),
            ratio(n1).alias("r1"), ratio(n2).alias("r2"),
        ).collect()
    )
    thr = kw.get("missing_char_threshold", 0.5)
    cutoff = kw.get("cutoff")
    if cutoff is not None:
        ref = ref[: cutoff * 2]
    if thr is not None:
        ref = [r for r in ref if r.r1 <= thr and r.r2 <= thr]
    if cutoff is not None:
        ref = ref[:cutoff]
    assert 0 < len(ref) < 40 or thr is None

    key = lambda r: (r.s1 or "", r.s2)  # noqa: E731 — s2 is unique per row
    got, ref = sorted(got, key=key), sorted(ref, key=key)
    assert [key(r) for r in got] == [key(r) for r in ref]
    np.testing.assert_allclose([r.p1 for r in got], [r.p1 for r in ref], rtol=0, atol=1e-6)
    for g, w in zip(got, ref):
        if abs(w.p1 - 0.5) > 1e-6:
            assert g.prediction == int(w.p1 > 0.5)
        assert abs(g.p0 - (1.0 - g.p1)) < 1e-12


class _Captured(Exception):
    pass


def test_finetune_p4_runs_each_udf_once_per_column(spark, seeded_artifact, tmp_path, monkeypatch):
    """``finetune``'s P4 filter keeps normalization and the missing-char
    ratios in their own projection under the filter, so in the frame it
    checkpoints before the split each UDF runs once per column (the
    filter pushed below the projection normalized every string twice),
    and the rows kept are those whose ratios pass on both sides."""
    seen = {}

    def capture(df, *_, **__):
        seen["p4"] = df
        raise _Captured

    df = _pairs(spark)
    monkeypatch.setattr(type(df), "localCheckpoint", capture)
    with pytest.raises(_Captured):
        api.finetune(spark, df, "m", seeded_artifact, models_dir=str(tmp_path))
    got = sorted(r.original_index for r in seen["p4"].collect())
    plan = seen["p4"]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("normalize_udf(") == 2, final
    assert final.count("missing_ratio(") == 2, final

    ratio = make_missing_ratio_udf(seeded_artifact)
    rows = df.select(
        "original_index",
        ratio(normalize_udf(F.col("s1"))).alias("r1"),
        ratio(normalize_udf(F.col("s2"))).alias("r2"),
    ).collect()
    want = sorted(r.original_index for r in rows if r.r1 <= 0.5 and r.r2 <= 0.5)
    assert got == want and 0 < len(got) < 40


@pytest.mark.parametrize("fn", ["train", "finetune"])
def test_encoder_collect_runs_no_python(spark, seeded_artifact, tmp_path, monkeypatch, fn):
    """``train`` and ``finetune`` checkpoint the normalized (and, in
    ``finetune``, P4-filtered) pairs before the split, so the frame the
    encoder collect reads runs no Python UDF: neither both branches of
    the split nor every later read normalizes the dataset again."""
    seen = {}

    def capture(df, *_):
        seen["df"] = df
        raise _Captured

    monkeypatch.setattr(api, "_collect_encoded", capture)
    df = _pairs(spark)
    with pytest.raises(_Captured):
        if fn == "train":
            api.train(spark, df, "m", models_dir=str(tmp_path))
        else:
            api.finetune(spark, df, "m", seeded_artifact, models_dir=str(tmp_path))
    assert seen["df"].collect()
    assert _python_nodes(seen["df"]) == 0

"""End-to-end Fellegi-Sunter scorer mode for the ER pipeline:
unsupervised EM fit on the blocked pairs, codegen-only scoring, match
quality gated against the truth-labeled synthetic pages."""

from pyspark.sql import functions as F

from deezymatch_spark.eval import er_f1_eval
from deezymatch_spark.pipeline import er_stages
from deezymatch_spark.sources.pages import generate_pages


def test_fs_scorer_f1_and_fit_fraction(spark):
    """scorer='fs' clusters the synthetic corpus nearly as well as the
    tuned JW threshold (the EM fit is unsupervised — no threshold was
    hand-picked for this data), and fitting on a half hash_sample of
    the pairs gives the same quality (fit on a slice, score all)."""
    full = er_f1_eval(spark, n_pages=1500, scorer="fs")
    assert full["f1"] >= 0.95, full
    assert full["recall"] >= 0.95, full
    half = er_f1_eval(
        spark, n_pages=1500, scorer="fs", fs_fit_fraction=0.5
    )
    assert half["f1"] >= 0.95, half


def test_fs_scoring_stage_is_udf_free(spark, tmp_path):
    """With a work dir, the post-checkpoint fs scoring/match plan is
    pure whole-stage codegen: zero Python nodes (the jw path pays an
    Arrow UDF here), and the match weights are literals in the plan."""
    pages = generate_pages(spark, 400, with_truth=False)
    st = er_stages(
        pages, spark=spark, scorer="fs", work_dir=str(tmp_path / "wd")
    )
    plan = st["matches"]._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert "match_weight_micro" in st["scored"].columns
    assert st["matches"].columns == ["id1", "id2", "weight_bits"]
    # weight column is exact micro-integer under the hood
    mw = st["scored"].select("match_weight_micro").schema[0].dataType.simpleString()
    assert mw == "bigint"


def test_fs_scorer_arg_validation(spark):
    import pytest

    pages = generate_pages(spark, 10, with_truth=False)
    with pytest.raises(ValueError, match="scorer must be"):
        er_stages(pages, spark=spark, scorer="nope")
    with pytest.raises(ValueError, match="fs_fit_fraction"):
        er_stages(pages, spark=spark, scorer="fs", fs_fit_fraction=0.0)

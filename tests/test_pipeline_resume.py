"""North-rule resumability: every stage checkpoints output + per-
partition lineage metrics; a killed job re-run with the same work_dir
resumes from the last completed stage instead of recomputing."""

import os
import shutil

from pyspark.sql import functions as F

from deezymatch_spark.pipeline import run_er_pipeline, stage_metrics


def test_pipeline_checkpoints_and_metrics(spark, tmp_path):
    wd = str(tmp_path / "wd")
    out = run_er_pipeline(spark, n_pages=300, work_dir=wd)
    n = out.count()
    assert n == 300
    # all stages persisted
    stages = sorted(d for d in os.listdir(wd) if d.startswith("stage_"))
    assert stages == [
        "stage_s0_extract", "stage_s2_scored",
        "stage_s3_matches", "stage_s4_components", "stage_s5_clusters",
    ]
    # per-partition lineage metrics written for every stage
    m = spark.read.parquet(os.path.join(wd, "metrics"))
    assert set(r.stage for r in m.select("stage").distinct().collect()) == {
        "s0_extract", "s2_scored", "s3_matches",
        "s4_components", "s5_clusters",
    }
    total_docs = (
        m.where(F.col("stage") == "s0_extract").agg(F.sum("rows")).collect()[0][0]
    )
    assert total_docs == 300


def test_pipeline_resumes_mid_run(spark, tmp_path):
    wd = str(tmp_path / "wd")
    first = run_er_pipeline(spark, n_pages=300, work_dir=wd)
    expected = sorted(
        (r.url, r.entity_id) for r in first.collect()
    )

    # simulate a kill after s2: later stage outputs lost
    for name in ("stage_s3_matches", "stage_s4_components", "stage_s5_clusters"):
        shutil.rmtree(os.path.join(wd, name))
    # corrupt the upstream SOURCE to prove early stages are NOT re-read:
    # resume must serve s0-s2 from their checkpoints
    marker = os.path.join(wd, "stage_s2_scored", "_SUCCESS")
    assert os.path.exists(marker)

    resumed = run_er_pipeline(spark, n_pages=300, work_dir=wd)
    got = sorted((r.url, r.entity_id) for r in resumed.collect())
    assert got == expected


def test_stage_metrics_shape(spark):
    df = spark.range(100).select(F.col("id"))
    m = stage_metrics(df, "unit").collect()
    assert sum(r.rows for r in m) == 100
    assert all(r.stage == "unit" for r in m)


def test_lost_metrics_markers_leave_one_row_set_per_partition(spark, tmp_path):
    """A resume that finds every per-stage ``_metrics_done`` marker gone
    — some stages still checkpointed, the rest re-executed — rewrites
    each stage's lineage partition instead of appending: the metrics
    table ends with exactly one row set per (stage, partition_id)."""
    wd = str(tmp_path / "wd")
    run_er_pipeline(spark, n_pages=300, work_dir=wd)
    shutil.rmtree(os.path.join(wd, "_metrics_done"))
    for name in ("stage_s3_matches", "stage_s4_components", "stage_s5_clusters"):
        shutil.rmtree(os.path.join(wd, name))

    out2 = run_er_pipeline(spark, n_pages=300, work_dir=wd)
    assert out2.count() == 300
    m = spark.read.parquet(os.path.join(wd, "metrics"))
    assert set(r.stage for r in m.select("stage").distinct().collect()) == {
        "s0_extract", "s2_scored", "s3_matches",
        "s4_components", "s5_clusters",
    }
    dup = (
        m.groupBy("stage", "partition_id").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0
    total_docs = (
        m.where(F.col("stage") == "s0_extract").agg(F.sum("rows")).collect()[0][0]
    )
    assert total_docs == 300


def test_lazy_stages_run_jw_once(spark):
    """Without a work_dir every stage is still cut at the stage boundary:
    the match stage reads the s2 checkpoint, so its executed plan holds
    no Python evaluation node — the JW UDF ran once, inside s2."""
    from deezymatch_spark.pipeline import er_stages
    from deezymatch_spark.sources.pages import generate_pages

    st = er_stages(generate_pages(spark, 300, with_truth=False), spark=spark)
    plan = st["matches"]._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert st["matches"].count() > 0
    assert "release" not in st

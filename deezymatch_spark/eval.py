"""Pairwise-F1 evaluation harness (BASELINE.json metric: pairwise match
F1 >= 0.99 on labeled entity pairs at fixed blocking key).

The labeled pair set is exactly the candidate pairs produced by the
pipeline's own blocking stage ("at the same blocking key" — the rule's
phrasing): for each blocked pair, truth label = same generator cluster,
prediction = same emitted entity_id. Precision/recall/F1 are computed
with one join (J4 in SURVEY.md §2.3), no collect of pair data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import er_stages
from .sources.pages import generate_pages

__all__ = ["pairwise_f1", "er_f1_eval"]


def pairwise_f1(
    pairs: DataFrame,
    truth: DataFrame,
    pred: DataFrame,
    *,
    id1: str = "id1",
    id2: str = "id2",
) -> dict[str, float]:
    """``pairs``: labeled pair universe [id1, id2]. ``truth``:
    [id, cluster_id]. ``pred``: [id, entity_id]. → {tp, fp, fn,
    precision, recall, f1} over the pair universe."""
    t = truth.select(F.col("id").alias("_tid"), "cluster_id")
    p = pred.select(F.col("id").alias("_pid"), "entity_id")
    lab = (
        pairs.join(t.withColumnRenamed("cluster_id", "c1"), F.col(id1) == F.col("_tid"))
        .drop("_tid")
        .join(t.withColumnRenamed("cluster_id", "c2"), F.col(id2) == F.col("_tid"))
        .drop("_tid")
        .join(p.withColumnRenamed("entity_id", "e1"), F.col(id1) == F.col("_pid"))
        .drop("_pid")
        .join(p.withColumnRenamed("entity_id", "e2"), F.col(id2) == F.col("_pid"))
        .drop("_pid")
        .select(
            (F.col("c1") == F.col("c2")).alias("is_true"),
            (F.col("e1") == F.col("e2")).alias("is_pred"),
        )
    )
    row = lab.agg(
        F.sum(F.when(F.col("is_true") & F.col("is_pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_true") & F.col("is_pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_true") & ~F.col("is_pred"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = row.tp or 0, row.fp or 0, row.fn or 0
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-12)
    return {
        "tp": tp, "fp": fp, "fn": fn,
        "precision": round(prec, 6), "recall": round(rec, 6), "f1": round(f1, 6),
    }


def er_f1_eval(
    spark: SparkSession,
    n_pages: int = 2000,
    **pipeline_kwargs,
) -> dict[str, float]:
    """Run the flagship pipeline on the deterministic truth-labeled
    pages table and score pairwise F1 at the pipeline's own blocking
    key."""
    pages = generate_pages(spark, n_pages, with_truth=True)
    truth = pages.select(F.xxhash64("url").alias("id"), "cluster_id")
    stages = er_stages(
        pages.select("url", "warc_ts", "html", "text", "lang"),
        spark=spark,
        **pipeline_kwargs,
    )
    pred = stages["docs"].join(
        stages["components"], stages["docs"].id == F.col("node"), "left"
    ).select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("entity_id")
    )
    out = pairwise_f1(stages["pairs"], truth, pred)

    # Blocking recall vs ALL truth pairs (not just blocked ones) — the
    # rule's F1 is measured at the blocking key, but a blocking stage
    # that silently drops true pairs must not hide behind that; surface
    # it as a separate metric.
    a, b = truth.alias("a"), truth.alias("b")
    all_true = a.join(
        b,
        (F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id1"), F.col("b.id").alias("id2")
    )
    n_true = all_true.count()
    n_blocked_true = all_true.join(
        stages["pairs"].select(
            F.least("id1", "id2").alias("id1"), F.greatest("id1", "id2").alias("id2")
        ),
        ["id1", "id2"],
    ).count()
    out["truth_pairs"] = n_true
    out["blocking_recall"] = round(n_blocked_true / max(n_true, 1), 6)
    return out

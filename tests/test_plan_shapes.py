"""Executable plan-shape audits: the 100 TB design claims in PLANS.md
(zero-shuffle projections, broadcast-not-sort-merge joins, map-combined
aggregations, JVM-only hot paths) asserted against the ACTUAL physical
plans, so a refactor that silently adds an Exchange or drops work into
a Python UDF fails CI instead of surviving until someone re-audits."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _ops(df) -> list[str]:
    """Operator names from explain('formatted'), in plan order."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return re.findall(r"^\(\d+\) (\w+)", buf.getvalue(), flags=re.M)


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _shuffles(ops):
    # BroadcastExchange is not a shuffle; count only hash/range exchanges
    return sum(1 for o in ops if o == "Exchange")


def _python(ops):
    return [o for o in ops if "Python" in o or "Arrow" in o or "Pandas" in o]


def test_hash_sample_is_a_pure_scan_filter(spark):
    from deezymatch_spark.operators import hash_sample

    ops = _ops(hash_sample(_docs(spark), "doc_id", 0.1, salt="s"))
    assert _shuffles(ops) == 0, ops
    assert not _python(ops), ops
    assert "Scan" in {o[:4] for o in ops} or "Scan" in ops[0]


def test_score_quality_lr_zero_shuffle_jvm_only(spark):
    from deezymatch_spark.operators.quality_lr import (
        SEED_QLR_FEATURES,
        score_quality_lr,
        seed_quality_weights,
    )

    df = score_quality_lr(
        _docs(spark), "doc_id", "text", seed_quality_weights(),
        n_features=SEED_QLR_FEATURES,
    )
    ops = _ops(df)
    assert _shuffles(ops) == 0, ops       # literal weight map: no join
    assert not _python(ops), ops          # pure codegen expressions


def test_lm_score_broadcasts_the_model(spark):
    from deezymatch_spark.operators import char_ngram_lm, lm_score

    docs = _docs(spark)
    lm = char_ngram_lm(docs.limit(50), "text", n=3, min_count=1)
    ops = _ops(lm_score(docs, "doc_id", "text", lm, n=3))
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops  # the corpus must not sort
    assert not _python(ops), ops


def test_canonical_url_projection_jvm_only(spark):
    from deezymatch_spark.functions.urls import canonical_url

    ops = _ops(_docs(spark).select(canonical_url(F.lit("http://www.a.com/x?b=2"))))
    assert _shuffles(ops) == 0, ops
    assert not _python(ops), ops


def test_distance_expressions_stay_jvm_side(spark):
    from deezymatch_spark.functions.distances import cosine_dist, sq_l2

    e = _emb(spark)
    df = e.alias("a").join(e.alias("b"), F.col("a.vec_id") == F.col("b.vec_id")).select(
        cosine_dist(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        sq_l2(F.col("a.embedding"), F.col("b.embedding")).alias("s"),
    )
    assert not _python(_ops(df)), _ops(df)


def test_exact_dup_groups_is_one_mapcombined_exchange(spark):
    from deezymatch_spark.operators import exact_dup_groups

    ops = _ops(exact_dup_groups(_docs(spark), "doc_id", "text"))
    assert _shuffles(ops) == 1, ops
    # partial aggregate BEFORE the exchange = map-side combine
    assert ops.index("HashAggregate") < ops.index("Exchange"), ops
    assert not _python(ops), ops


def test_semantic_dedup_assignment_is_zero_shuffle(spark):
    """The literal-centroid argmin (cluster assignment) must be a pure
    projection; only the rank window + triangular join may exchange."""
    from deezymatch_spark.functions.distances import cosine_dist
    from deezymatch_spark.operators.knn import centroid_dist_array, coarse_centroids

    e = _emb(spark).select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    cents = coarse_centroids(e, "id", "vec", 4)
    arr = centroid_dist_array(F.col("vec"), cents, cosine_dist)
    ops = _ops(e.select("id", F.array_min(arr)["list_id"].alias("list_id")))
    assert _shuffles(ops) == 0, ops
    assert not _python(ops), ops


def test_semantic_dedup_full_plan_shuffle_budget(spark):
    from deezymatch_spark.operators import semantic_dedup

    ops = _ops(semantic_dedup(_emb(spark), "vec_id", "embedding", n_clusters=4, eps=0.3))
    # one Exchange for the list_id window; the rank-gated self-join and
    # the kept-flag join may each add at most one more side — anything
    # beyond 4 means the co-partitioning broke
    assert 1 <= _shuffles(ops) <= 4, ops
    assert not _python(ops), ops


def test_bpe_segmentation_is_a_pure_projection(spark):
    from deezymatch_spark.functions.bpe import bpe_segment_expr, seed_merges

    ops = _ops(
        _docs(spark).select(bpe_segment_expr(F.col("text"), seed_merges(16)))
    )
    assert _shuffles(ops) == 0, ops
    assert not _python(ops), ops


def test_sentence_dedup_broadcasts_the_duplicate_set(spark):
    from deezymatch_spark.operators import sentence_dedup

    ops = _ops(sentence_dedup(_docs(spark), "doc_id", "text", min_count=2))
    assert "BroadcastHashJoin" in ops, ops   # anti-join vs the dup set
    assert "SortMergeJoin" not in ops, ops


def test_sessionize_single_user_key_exchange(spark):
    from deezymatch_spark.operators import sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet").select("user_id", "ts")
    ops = _ops(sessionize(ev, "user_id", "ts", gap_seconds=600))
    # lag, running sum, and running session_start all share the ONE
    # user-key window — a second Exchange means someone re-derived
    # session_start from a (user, session_seq) partition
    assert _shuffles(ops) == 1, ops
    assert not _python(ops), ops


def test_session_stats_single_exchange_partial_agg(spark):
    from deezymatch_spark.operators import session_stats

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "ts", "value"
    )
    ops = _ops(session_stats(ev, "user_id", "ts", gap_seconds=600,
                             value_col="value"))
    assert _shuffles(ops) == 1, ops
    assert not _python(ops), ops
    # the native session-window operator (UpdatingSessions when a
    # distinct agg forces separate update/merge, MergingSessions when
    # the partial aggregation fuses)
    assert any("Sessions" in o for o in ops), ops


def test_edit_distance_join_no_python_no_cartesian(spark):
    """edjoin: zero Python anywhere (grams/tagging/ranking/verify are
    all codegen or window work), and the pair step is a real equi-join
    on the gram token — never a cartesian/nested-loop (the sentinel is
    just another key). Verification levenshtein rides a join, not a
    UDF."""
    from deezymatch_spark.operators import edit_distance_join

    d = _docs(spark).select("doc_id", F.substring("text", 1, 12).alias("s"))
    out = edit_distance_join(d, "doc_id", "s", k=2, gram=2)
    ops = _ops(out)
    assert _python(ops) == [], ops
    assert not any("Cartesian" in o or "NestedLoop" in o for o in ops), ops


@contextlib.contextmanager
def _no_size_broadcast(spark):
    """Plan as for a corpus too big to broadcast: only explicit
    broadcast hints stay broadcast."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _titles(spark):
    return _docs(spark).select(
        F.col("doc_id").alias("id"), F.lower(F.substring("text", 1, 40)).alias("t")
    )


def test_scored_candidate_pairs_batch_plan(spark):
    """The fused blocking self-join stays JVM-only and shuffles five
    times: the key rows once per pair-join side, the over-cap key-size
    aggregation once per side in this initial plan (map-combined, so
    only distinct keys move; the list itself is broadcast; AQE reuses
    one at run time, pinned below), and the pair dedup."""
    from deezymatch_spark.operators.blocking import scored_candidate_pairs

    out = scored_candidate_pairs(_titles(spark), "id", "t")
    with _no_size_broadcast(spark):
        ops = _ops(out)
    assert not _python(ops), ops
    assert _shuffles(ops) == 5, ops


def _final_plan(out) -> str:
    """The final (AQE) executed plan, read after ``out`` has run."""
    out.collect()
    return out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


@pytest.mark.parametrize("cap_mode, aggregations", [("drop", 1), ("downsample", 2)])
def test_scored_candidate_pairs_batch_reuses_the_over_cap_aggregation(spark, cap_mode, aggregations):
    """Batch mode caches nothing either: the key rows are not persisted,
    so AQE serves both join sides' over-cap key list from one
    aggregation (a ``ReusedExchange``) instead of aggregating again per
    side over an in-memory scan. Downsample adds one aggregation, for
    the over-cap rows it thins, and reuses it the same way. The cap of
    20 leaves over-cap keys in this corpus."""
    from deezymatch_spark.operators.blocking import scored_candidate_pairs

    out = scored_candidate_pairs(_titles(spark), "id", "t", max_block_size=20, cap_mode=cap_mode)
    assert getattr(out, "_dzm_persisted", None) is None
    final = _final_plan(out)
    assert "InMemoryTableScan" not in final, final
    assert final.count("functions=[count(1)]") == aggregations, final
    assert any("ReusedExchange [block_key" in line for line in final.splitlines()), final


def test_scored_candidate_pairs_delta_never_shuffles_the_corpus_keys(spark):
    """``delta_ids`` mode: the pair join is a broadcast hash join whose
    build side is the delta's key rows (the corpus keys semi-joined with
    the broadcast delta ids), so the corpus key table never shuffles.
    Only the over-cap aggregation and the pair dedup shuffle."""
    from deezymatch_spark.operators.blocking import scored_candidate_pairs

    titles = _titles(spark)
    delta = titles.where(F.pmod("id", F.lit(10)) == 0).select("id")
    out = scored_candidate_pairs(titles, "id", "t", delta_ids=delta)
    with _no_size_broadcast(spark):
        ops = _ops(out)
        plan = out._jdf.queryExecution().executedPlan().toString().splitlines()
    assert "SortMergeJoin" not in ops, ops
    assert not _python(ops), ops
    assert _shuffles(ops) == 3, ops
    inner = [i for i, line in enumerate(plan) if "BroadcastHashJoin" in line and ", Inner, " in line]
    assert len(inner) == 1, plan
    assert ", BuildLeft, " in plan[inner[0]], plan[inner[0]]
    # the build (left) subtree is printed first: the delta semi-join
    below = [line for line in plan[inner[0] + 1:] if "Join" in line]
    assert ", LeftSemi, " in below[0], below[0]


def test_scored_candidate_pairs_delta_reuses_the_over_cap_aggregation(spark):
    """``delta_ids`` mode caches nothing: the corpus key rows are not
    persisted (there is nothing to release), so once the plan has run,
    AQE serves every join side's over-cap key list from one aggregation
    (a ``ReusedExchange``) instead of aggregating again per side over an
    in-memory scan. The cap of 20 leaves over-cap keys in this corpus;
    with none, AQE drops the empty anti-joins and there is nothing to
    reuse."""
    from deezymatch_spark.operators.blocking import scored_candidate_pairs

    titles = _titles(spark)
    delta = titles.where(F.pmod("id", F.lit(10)) == 0).select("id")
    out = scored_candidate_pairs(titles, "id", "t", delta_ids=delta, max_block_size=20)
    assert getattr(out, "_dzm_persisted", None) is None
    final = _final_plan(out)
    assert "InMemoryTableScan" not in final, final
    assert final.count("functions=[count(1)]") == 1, final
    assert any("ReusedExchange [block_key" in line for line in final.splitlines()), final

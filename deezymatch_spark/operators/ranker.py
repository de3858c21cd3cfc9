"""candidate_ranker — declarative re-expression of the reference's
adaptive faiss search loop (DeezyMatch/candidateRanker.py:355-578).

The reference searches each query against an exhaustive IndexFlatL2 in
growing windows of ``search_size`` until ``num_candidates`` survive its
filters or a window's max distance exceeds the threshold. On a cluster
we score the full (blocked) pair set in one declarative plan and apply
the same filters — provably the same final set for the faiss/cosine
metrics (the early break only skips candidates that are farther in the
ranking metric and would fail the threshold filter anyway; SURVEY.md §4).
``num_all_searches`` (the k the loop would have reached) is recomputed
as a compatibility column, capped by the per-query SCORED pair count:
identical to the reference for the exhaustive cross-join path; with a
blocked ``pairs=`` input the cap reflects the blocked subset size, not
the reference's full-|C| exhaustion cap (candidateRanker.py:501-510) —
a documented divergence, since blocked mode has no reference
counterpart to be compatible with.

Semantic parity targets (reference test suite):
- self-match faiss distance ≈ 0        (tests/test_pipeline_ngram.py:102-105)
- faiss results invariant to calc_predict (test_pipeline_one_col_input.py:156-170)
- length_diff on NFKD-normalized lengths  (test_pipeline_one_col_input.py:192-199)
- dedup by candidate original spelling, first (best-ranked) kept
  (candidateRanker.py:483-492)

For the ``conf`` metric the reference's result is window-dependent
(can miss high-conf candidates outside the searched window); we
reproduce its semantics exactly only when search_size ≥ |candidates|,
which is what its own tests pin (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.distances import cosine_dist, sq_l2

__all__ = ["candidate_ranker", "validate_ranker_args"]


def validate_ranker_args(ranking_metric: str, selection_threshold: float) -> None:
    """Threshold validation ≙ candidateRanker.py:267-295."""
    m = ranking_metric.lower()
    if m not in ("faiss", "cosine", "conf"):
        raise ValueError(f"ranking_metric: {ranking_metric} is not implemented.")
    if m == "faiss":
        if not (isinstance(selection_threshold, (int, float)) and selection_threshold >= 0):
            raise ValueError("Selection threshold should be >= 0 for faiss metric.")
    else:
        if not (0.0 <= float(selection_threshold) <= 1.0):
            raise ValueError(
                "Selection threshold should be between 0 and 1 for cosine/conf."
            )


def candidate_ranker(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    ranking_metric: str = "faiss",
    selection_threshold: float,
    num_candidates: int = 10,
    search_size: int = 4,
    length_diff: int | None = None,
    calc_predict: bool = False,
    calc_cosine: bool = False,
    pair_scorer: Callable[[F.Column, F.Column], F.Column] | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """→ [query_id, query, query_orig, rank, candidate, candidate_orig,
    candidate_id, faiss_dist, cosine_dist, dl_match, num_all_searches].

    ``queries`` / ``candidates``: [id, key, key_norm, vec] (the Parquet
    embedding-store schema replacing the reference's per-batch tensor
    files, SURVEY.md §1.1).

    ``pairs``: optional pre-blocked [query_id, candidate_id] — the
    scale path (J3). Default is the reference-parity exhaustive path:
    broadcast the (small) query side and score against every candidate;
    no shuffle of the candidate table at all, then a per-query window
    top-k.

    ``pair_scorer``: expression/UDF (s1_norm, s2_norm) → match
    probability p1 (the numpy-GRU siamese scorer; D3). Required when
    calc_predict or ranking_metric='conf'.

    When ``dl_match`` is computed, per metric:

    - ``conf``: on every scored pair, before the windows — the
      threshold filter, ``num_all_searches`` and the final order all
      read it, so the scorer runs |Q|×|C| times (|pairs| with ``pairs=``).
    - ``faiss`` / ``cosine`` with ``calc_predict``: after the final
      ``rank <= num_candidates`` cut. Nothing before that cut reads
      ``dl_match``, so the output is the same as scoring every pair, and
      the scorer runs at most |Q|·``num_candidates`` times, on the rows
      that reach the output.
    - otherwise it is null.
    """
    metric = ranking_metric.lower()
    validate_ranker_args(metric, selection_threshold)
    if metric == "conf" and pair_scorer is None:
        raise ValueError(
            "ranking_metric: conf is selected, but no pair_scorer/model is given."
        )

    q = queries.select(
        F.col("id").alias("query_id"),
        F.col("key_norm").alias("query"),
        F.col("key").alias("query_orig"),
        F.col("vec").alias("_qv"),
    )
    c = candidates.select(
        F.col("id").alias("candidate_id"),
        F.col("key_norm").alias("candidate"),
        F.col("key").alias("candidate_orig"),
        F.col("vec").alias("_cv"),
    )

    if pairs is not None:
        joined = pairs.select("query_id", "candidate_id").join(q, "query_id").join(
            c, "candidate_id"
        )
    else:
        joined = F.broadcast(q).crossJoin(c)

    scored = joined.withColumn("faiss_dist", sq_l2(F.col("_qv"), F.col("_cv")))
    if calc_cosine or metric == "cosine":
        scored = scored.withColumn("cosine_dist", cosine_dist(F.col("_qv"), F.col("_cv")))
    else:
        scored = scored.withColumn("cosine_dist", F.lit(None).cast("double"))
    # conf filters and ranks on dl_match, so it is scored on every pair;
    # under faiss/cosine it is a pure projection, scored after the top-k
    # cut below (at most |Q|·num_candidates scorer rows)
    dl_match = (
        pair_scorer(F.col("query"), F.col("candidate"))
        if (calc_predict or metric == "conf") and pair_scorer is not None
        else F.lit(None).cast("double")
    )
    if metric == "conf":
        scored = scored.withColumn("dl_match", dl_match)

    # faiss ordering — the arrival order of the reference's windows.
    # Every window below partitions by query_id, so the whole post-score
    # pipeline (rank, filters, dedup, top-k, num_all_searches) runs on
    # ONE shuffle: Catalyst reuses the (query_id) hash partitioning
    # across same-key window operators.
    w_faiss = Window.partitionBy("query_id").orderBy(
        F.col("faiss_dist").asc(), F.col("candidate_id").asc()
    )
    scored = scored.withColumn("_faiss_rank", F.row_number().over(w_faiss))

    # num_all_searches compat column: the adaptive loop's final k,
    # computed as window aggregates over the full scored set (no
    # groupBy/join, no second scan of the cross join, no eager count):
    # batch of faiss position p = ceil(p / search_size); the loop stops
    # at the earlier of (a) the batch where the num_candidates-th
    # passing candidate lands, (b) the first batch with a distance
    # above threshold (faiss/cosine only); otherwise it exhausts all
    # |C| candidates. k = batch * search_size capped at |C|
    # (candidateRanker.py:381-398,501-510).
    batch = F.ceil(F.col("_faiss_rank") / F.lit(search_size))
    if metric == "faiss":
        passing = F.col("faiss_dist") <= selection_threshold
        over = F.when(F.col("faiss_dist") > selection_threshold, batch)
    elif metric == "cosine":
        passing = F.col("cosine_dist") <= selection_threshold
        over = F.when(F.col("cosine_dist") > selection_threshold, batch)
    else:
        passing = F.col("dl_match") >= selection_threshold
        over = F.lit(None).cast("long")
    if isinstance(length_diff, int):
        passing = passing & (
            F.abs(F.length("query") - F.length("candidate")) <= length_diff
        )
    w_cum = (
        Window.partitionBy("query_id")
        .orderBy(F.col("_faiss_rank").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_q = Window.partitionBy("query_id")
    scored = (
        scored.withColumn(
            "_cum_pass", F.sum(F.when(passing, 1).otherwise(0)).over(w_cum)
        )
        .withColumn(
            "_stop_batch",
            F.least(
                F.min(F.when(F.col("_cum_pass") == num_candidates, batch)).over(w_q),
                F.min(over).over(w_q),
            ),
        )
        .withColumn("_n_cand", F.count("*").over(w_q))
        .withColumn(
            "num_all_searches",
            F.least(
                F.coalesce(F.col("_stop_batch") * search_size, F.col("_n_cand")),
                F.col("_n_cand"),
            ),
        )
    )

    # P7 length filter (on NFKD-normalized spellings)
    filtered = scored
    if isinstance(length_diff, int):
        filtered = filtered.where(
            F.abs(F.length("query") - F.length("candidate")) <= length_diff
        )

    # P8 threshold filter
    if metric == "faiss":
        filtered = filtered.where(F.col("faiss_dist") <= selection_threshold)
    elif metric == "cosine":
        filtered = filtered.where(F.col("cosine_dist") <= selection_threshold)
    else:  # conf
        filtered = filtered.where(F.col("dl_match") >= selection_threshold)

    # P9 dedup by candidate ORIGINAL spelling, keep first-by-arrival
    # (= best faiss rank; candidateRanker.py:483-492)
    w_dedup = Window.partitionBy("query_id", "candidate_orig").orderBy(
        F.col("_faiss_rank").asc()
    )
    deduped = (
        filtered.withColumn("_dn", F.row_number().over(w_dedup))
        .where(F.col("_dn") == 1)
        .drop("_dn")
    )

    # W1 final rank by the requested metric, top num_candidates
    order = {
        "faiss": [F.col("faiss_dist").asc(), F.col("_faiss_rank").asc()],
        "cosine": [F.col("cosine_dist").asc(), F.col("_faiss_rank").asc()],
        "conf": [F.col("dl_match").desc(), F.col("_faiss_rank").asc()],
    }[metric]
    w_rank = Window.partitionBy("query_id").orderBy(*order)
    ranked = (
        deduped.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= num_candidates)
    )
    if metric != "conf":
        ranked = ranked.withColumn("dl_match", dl_match)

    return ranked.select(
        "query_id",
        "query",
        "query_orig",
        "rank",
        "candidate",
        "candidate_orig",
        "candidate_id",
        "faiss_dist",
        "cosine_dist",
        "dl_match",
        "num_all_searches",
    )

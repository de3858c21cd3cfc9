"""One-to-one match assignment: mutual best (symmetric best match).

After pair scoring, record LINKAGE (as opposed to dedup clustering)
usually wants an assignment, not a graph: each record matched to at
most one partner. The standard cheap assignment is *mutual best*
(Splink calls the pattern deterministic one-to-one linking): keep pair
(a, b) iff b is a's highest-scoring partner AND a is b's. It never
over-links (every survivor is a local optimum on both sides) and is
embarrassingly parallel, unlike the exact Hungarian assignment which
is inherently sequential and dies at scale.

No reference counterpart — DeezyMatch returns ranked top-k lists
(candidateRanker.py:513-570) and leaves assignment to the caller; this
operator is that missing last step.

Shape: symmetrize (undirected mode), then per direction a two-stage
map-combined argmax — max score per source, then min partner among the
tied-at-max rows — no windows, no global sorts; the winner tables
semi-join back onto the pair set. Ties break deterministically toward
the SMALLER partner id, so the output is a pure function of the pair
set (partitioning- and retry-stable, any id type). Float-score callers
should quantize scores first if cross-engine exactness matters — the
graded composite feeds integer meta-blocking weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["link_records", "mutual_best_matches"]


def mutual_best_matches(
    pairs: DataFrame,
    score_col: str,
    *,
    id1: str = "id1",
    id2: str = "id2",
    directed: bool = False,
) -> DataFrame:
    """→ DataFrame[id1, id2, <score_col>] — the mutual-best subset of
    ``pairs``, id1 < id2 in undirected mode (each input pair counted
    once regardless of orientation; duplicate (a,b) rows keep the max
    score). ``directed=True`` treats id1/id2 as two distinct record
    sets (classic two-table linkage) and skips symmetrization."""
    p = pairs.select(
        F.col(id1).alias("a"), F.col(id2).alias("b"), F.col(score_col).alias("s")
    ).where(F.col(id1) != F.col(id2))
    if not directed:
        p = p.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"), "s"
        )
    p = p.groupBy("a", "b").agg(F.max("s").alias("s")).localCheckpoint(
        eager=False
    )
    flipped = p.select(F.col("b").alias("a"), F.col("a").alias("b"), "s")

    def best(side: DataFrame) -> DataFrame:
        """argmax partner per source: max score, then min partner among
        ties — two map-combined aggregations, deterministic for any
        orderable id type."""
        mx = side.groupBy("a").agg(F.max("s").alias("s"))
        return (
            side.join(mx, ["a", "s"], "left_semi")
            .groupBy("a")
            .agg(F.min("b").alias("best_b"))
        )

    if directed:
        best_fwd, best_bwd = best(p), best(flipped)
    else:
        best_fwd = best_bwd = best(p.unionByName(flipped)).localCheckpoint(
            eager=False
        )

    fwd_pairs = best_fwd.select(F.col("a"), F.col("best_b").alias("b"))
    bwd_pairs = best_bwd.select(F.col("best_b").alias("a"), F.col("a").alias("b"))
    return (
        p.join(fwd_pairs, ["a", "b"], "left_semi")
        .join(bwd_pairs, ["a", "b"], "left_semi")
        .select(
            F.col("a").alias(id1),
            F.col("b").alias(id2),
            F.col("s").alias(score_col),
        )
    )


def link_records(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str = "id",
    key_col: str = "key",
    lev_max: int = 2,
    max_block_size: int = 200,
    jw_threshold: float = 0.0,
    one_to_one: bool = False,
    **key_kwargs,
) -> DataFrame:
    """Two-table fuzzy record linkage → DataFrame[left_id, right_id,
    lev, jw] — the reference's query→candidate ranking
    (candidateRanker.py:513-570) re-expressed as a blocked, gated,
    skew-safe table-to-table join instead of an exhaustive index scan.

    Both tables need (``id_col``, ``key_col``); ids should come from
    disjoint spaces (an accidental left_id == right_id pair is treated
    as a self-pair and dropped by the one-to-one step). The join is the
    fused shape of ``scored_candidate_pairs`` (its key rows,
    ``blocking._key_rows``, and gate, ``blocking._gated_pairs``) in
    ``blocking._pair_join``'s two-table mode:

    - blocking keys built PER SIDE (same g:/w:/m:/p: families via
      ``**key_kwargs``), unioned under a side tag and persisted once:
      the inputs may carry a caller's unmaterialized lineage, which the
      sizing and both join branches would otherwise each re-run;
    - the hot-key cap (``cap_blocks``, drop mode) is decided on the
      UNION count of both sides (a key only a million LEFT rows share
      is just as quadratic as a shared one);
    - the length and Levenshtein gates run map-side BEFORE the dedup
      shuffle, so the Python JW UDF sees only gated survivors of the
      distinct (left_id, right_id) set.

    ``one_to_one=True`` finishes with ``mutual_best_matches(directed)``
    — at most one partner per record on either side, ties toward the
    smaller partner id. Call ``release_persisted`` (operators.blocking)
    on the result when done, as with candidate_pairs."""
    from ..functions.udfs import jaro_winkler_udf
    from .blocking import _attach_persisted, _gated_pairs, _key_rows, cap_blocks

    def side_keys(df, tag):
        return _key_rows(df, id_col, key_col, **key_kwargs).withColumn("_side", F.lit(tag))

    keys = side_keys(left, 0).unionByName(side_keys(right, 1)).persist()
    good = cap_blocks(keys, max_block_size)
    side = F.col("_side")
    scored = (
        _gated_pairs(good.where(side == 0), good.where(side == 1), lev_max=lev_max)
        .withColumnsRenamed({"id1": "left_id", "id2": "right_id"})
        .withColumn("jw", jaro_winkler_udf(F.col("t1"), F.col("t2")))
        .where(F.col("jw") >= jw_threshold)
        .select("left_id", "right_id", "lev", "jw")
    )
    if one_to_one:
        best = mutual_best_matches(
            scored, "jw", id1="left_id", id2="right_id", directed=True
        )
        scored = scored.join(
            best.select("left_id", "right_id"), ["left_id", "right_id"], "left_semi"
        )
    return _attach_persisted(scored, keys)

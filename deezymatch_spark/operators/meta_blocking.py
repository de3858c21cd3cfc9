"""Meta-blocking: weight and prune the candidate pairs a blocking
scheme emits (Papadakis et al. 2014, "Meta-Blocking: Taking Entity
Resolution to the Next Level", TKDE).

Redundancy-positive blocking (char ngrams, word tokens — everything
``blocking_keys`` produces) emits the same pair from many blocks. That
redundancy is *signal*: two records sharing five blocking keys are a
far stronger candidate than two sharing one. Meta-blocking turns the
block collection into a weighted pair graph and discards the
low-weight edges BEFORE the expensive comparison stage — at web scale
the comparison (Levenshtein/JW gates + the Arrow scorer) dominates
cost, so shedding, say, the weakest half of candidates at one
aggregation's cost is a direct multiplier on pipeline throughput.

No reference counterpart (DeezyMatch compares all pairs exhaustively,
candidateRanker.py:361-364).

Weighting schemes (both exact integers, hash-stable across engines):

- ``cbs`` — Common Blocks Scheme: the raw number of blocks the pair
  co-occurs in, times 10⁶ to share the micro-unit scale.
- ``js``  — Jaccard Scheme: ``cbs / (|blocks(a)| + |blocks(b)| - cbs)``
  as the exact bigint ``(cbs · 10⁶) div (da + db - cbs)`` — the
  micro-unit discipline of bcubed/quality_lr (float ratios hash-diverge
  engines in the last ulp).

Pruning: Weighted Edge Pruning (WEP) — keep pairs with weight ≥ the
global mean weight, the paper's standard configuration. The mean is
computed in micro units as ``sum(weight) div count`` (one 1-row
aggregate, broadcast back via crossJoin), so the cut is exact and
partitioning-independent.

Scale shape: hot blocks are removed first by ``blocking.cap_blocks``
(a broadcast anti-join on the over-cap key list, bounded by
|key_rows|/cap), so the in-block self-join's largest reducer is
O(cap²) rows; pair weights then aggregate map-combined on the (id1,
id2) key. The per-record degree table shuffles once on id for the js
scheme's two joins. No driver collects, no windows, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .blocking import _pair_join, cap_blocks

__all__ = ["meta_block_weights", "meta_blocked_pairs"]

_SCALE = 1_000_000


def meta_block_weights(
    keys: DataFrame,
    *,
    scheme: str = "js",
    max_block_size: int = 200,
    id_col: str = "id",
    key_col: str = "block_key",
) -> DataFrame:
    """``keys``: (id, block_key), per-record distinct (what
    ``blocking_keys`` emits). → DataFrame[id1, id2, cbs, weight_micro]
    with id1 < id2, one row per candidate pair surviving the hot-block
    cap.
    """
    if scheme not in ("cbs", "js"):
        raise ValueError(f"meta_block_weights: unknown scheme {scheme!r}")
    if max_block_size < 2:
        raise ValueError("meta_block_weights: max_block_size must be >= 2")

    k = keys.select(F.col(id_col).alias("id"), F.col(key_col).alias("block_key"))
    kept = cap_blocks(k, max_block_size)

    pairs = _pair_join(kept).groupBy("id1", "id2").agg(F.count("*").cast("long").alias("cbs"))
    if scheme == "cbs":
        return pairs.select(
            "id1", "id2", "cbs", (F.col("cbs") * _SCALE).alias("weight_micro")
        )

    deg = kept.groupBy("id").agg(F.count("*").cast("long").alias("_deg"))
    return (
        pairs.join(deg.withColumnRenamed("id", "id1"), "id1")
        .withColumnRenamed("_deg", "_d1")
        .join(deg.withColumnRenamed("id", "id2"), "id2")
        .withColumnRenamed("_deg", "_d2")
        .select(
            "id1",
            "id2",
            "cbs",
            F.expr(f"(cbs * {_SCALE}L) div (_d1 + _d2 - cbs)").alias(
                "weight_micro"
            ),
        )
    )


def meta_blocked_pairs(
    keys: DataFrame,
    *,
    scheme: str = "js",
    max_block_size: int = 200,
    min_weight_micro: int | None = None,
    id_col: str = "id",
    key_col: str = "block_key",
) -> DataFrame:
    """Weight + prune in one call → DataFrame[id1, id2, cbs,
    weight_micro]. ``min_weight_micro=None`` applies WEP (keep ≥ the
    global mean weight); an explicit value applies that fixed floor
    instead (useful when the threshold was tuned on a sample and must
    not drift with the batch)."""
    w = meta_block_weights(
        keys,
        scheme=scheme,
        max_block_size=max_block_size,
        id_col=id_col,
        key_col=key_col,
    )
    if min_weight_micro is not None:
        return w.where(F.col("weight_micro") >= int(min_weight_micro))
    mean = w.agg(
        F.expr("sum(weight_micro) div greatest(count(*), 1)").alias("_thr")
    )
    return w.crossJoin(F.broadcast(mean)).where(
        F.col("weight_micro") >= F.col("_thr")
    ).drop("_thr")

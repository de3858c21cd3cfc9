"""cap_mode="downsample": over-cap blocks keep a deterministic
recall floor of exactly max_block_size hash-chosen members instead of
dropping to zero (r4 exact-gold audit: the drop cap was the entire
0.1% blocking-recall residual)."""

from pyspark.sql import functions as F

from deezymatch_spark.operators.blocking import (
    blocking_preflight,
    cap_blocks,
    scored_candidate_pairs,
)


def _keys(spark, spec):
    """spec: {block_key: n_members} → (id, block_key) rows, ids disjoint."""
    rows, nid = [], 0
    for bk, n in spec.items():
        for _ in range(n):
            rows.append((nid, bk))
            nid += 1
    return spark.createDataFrame(rows, "id long, block_key long")


def test_cap_blocks_downsample_exact_cap_and_determinism(spark):
    keys = _keys(spark, {100: 40, 200: 5})
    kept = cap_blocks(keys, 10, "downsample")
    by_key = {
        r.block_key: r.n
        for r in kept.groupBy("block_key").agg(F.count("*").alias("n")).collect()
    }
    assert by_key == {100: 10, 200: 5}  # exactly cap members survive

    kept1 = {r.id for r in kept.where(F.col("block_key") == 100).collect()}
    kept2 = {
        r.id
        for r in cap_blocks(keys.repartition(7), 10, "downsample")
        .where(F.col("block_key") == 100)
        .collect()
    }
    assert kept1 == kept2 and len(kept1) == 10  # partitioning-independent

    # drop mode still removes the block entirely
    dropped = cap_blocks(keys, 10, "drop")
    assert dropped.where(F.col("block_key") == 100).count() == 0


def test_scored_pairs_downsample_recall_floor(spark):
    # 40 identical titles: every blocking key they generate has 40
    # members, so with cap 10 the drop cap erases ALL their pairs;
    # downsample must keep a floor. One unrelated near-dup pair rides
    # along to prove both modes keep normal blocks untouched.
    rows = [(i, "shared hot title zz") for i in range(40)]
    rows += [(100, "unique pair title qq"), (101, "unique pair title qx")]
    docs = spark.createDataFrame(rows, "id long, t string")

    def pairs(mode):
        out = scored_candidate_pairs(
            docs, "id", "t", lev_max=2, max_block_size=10,
            cap_mode=mode, use_minhash=False,
        )
        return {(r.id1, r.id2) for r in out.collect()}

    drop, down = pairs("drop"), pairs("downsample")
    assert (100, 101) in drop and (100, 101) in down
    hot_drop = {p for p in drop if p != (100, 101)}
    hot_down = {p for p in down if p != (100, 101)}
    assert hot_drop == set()          # drop: the hot block vanishes
    assert len(hot_down) >= 45        # floor: >= C(10,2) pairs survive
    assert hot_down == {p for p in pairs("downsample") if p != (100, 101)}


def test_preflight_prices_downsample_floor(spark):
    keys = _keys(spark, {100: 40, 200: 5})
    kf = keys.select("id", F.concat(F.lit("w:"), F.col("block_key")).alias("block_key"))
    total_drop = {
        r.family: r.est_pairs_capped
        for r in blocking_preflight(kf, max_block_size=10).collect()
    }["TOTAL"]
    total_down = {
        r.family: r.est_pairs_capped
        for r in blocking_preflight(kf, max_block_size=10, cap_mode="downsample").collect()
    }["TOTAL"]
    assert total_drop == 10   # C(5,2) only
    assert total_down == 55   # + C(10,2) for the downsampled block

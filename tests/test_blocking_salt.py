"""Capped blocking (north_rule skew handling): the broadcast anti-join
cap must produce EXACTLY the same pair set as a naive size-filtered
join, including on a large block just under the cap."""

from pyspark.sql import functions as F

from deezymatch_spark.operators.blocking import blocking_keys, candidate_pairs


def _naive_pairs(keys, max_block_size):
    sizes = keys.groupBy("block_key").agg(F.count("*").alias("_bs"))
    good = keys.join(
        sizes.where(F.col("_bs") <= max_block_size).select("block_key"), "block_key"
    )
    return (
        good.alias("a")
        .join(good.alias("b"), "block_key")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )


def test_capped_pairs_equal_naive(spark):
    # head-heavy: 60 docs share the prefix "hotkey" (one mega-block
    # below the cap), plus distinct tails
    rows = [(i, f"hotkey block {i:03d}") for i in range(60)]
    rows += [(100 + i, f"unique{i:04d} title") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, key string")

    capped = {
        (r.id1, r.id2)
        for r in candidate_pairs(df, "id", "key", max_block_size=100).collect()
    }
    keys = blocking_keys(df, "id", "key")
    naive = {(r.id1, r.id2) for r in _naive_pairs(keys, 100).collect()}
    assert capped == naive
    # the hot block really did produce pairs (not capped away)
    assert sum(1 for a, b in capped if a < 60 and b < 60) >= 60 * 59 / 2 * 0.9


def test_cap_drops_mega_blocks(spark):
    rows = [(i, "same title everywhere") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, key string")
    pairs = candidate_pairs(df, "id", "key", max_block_size=10)
    assert pairs.count() == 0

"""The hot-key cap boundary, pinned once for every blocking join that
caps through ``blocking.cap_blocks``: a block of exactly ``cap``
members survives whole, a block of ``cap + 1`` members is dropped. An
off-by-one in the shared cap would otherwise shift all six callers at
once."""

import pytest
from pyspark.sql import functions as F

from deezymatch_spark.operators.blocking import (
    candidate_pairs,
    release_persisted,
    scored_candidate_pairs,
)
from deezymatch_spark.operators.dedup import minhash_dup_pairs, simhash_dup_pairs
from deezymatch_spark.operators.linkage import link_records
from deezymatch_spark.operators.meta_blocking import meta_block_weights

CAP = 5
TEXT = "alpha beta gamma delta epsilon zeta"


def _docs(spark, n, first_id=0):
    """``n`` identical rows: every key they generate is one block of
    exactly ``n`` members."""
    return spark.createDataFrame(
        [(first_id + i, TEXT) for i in range(n)], "id long, key string"
    )


def _candidate_pairs(spark, n):
    return candidate_pairs(_docs(spark, n), "id", "key", max_block_size=CAP).count()


def _scored_candidate_pairs(spark, n):
    return scored_candidate_pairs(_docs(spark, n), "id", "key", max_block_size=CAP).count()


def _link_records(spark, n):
    # the cap counts the union of both sides: n = left + right members
    left = _docs(spark, n // 2)
    right = _docs(spark, n - n // 2, first_id=1000)
    out = link_records(left, right, max_block_size=CAP, use_minhash=False)
    count = out.count()
    release_persisted(out)
    return count


def _meta_block_weights(spark, n):
    keys = _docs(spark, n).select("id", F.lit("w:hot").alias("block_key"))
    return meta_block_weights(keys, max_block_size=CAP).count()


def _minhash_dup_pairs(spark, n):
    return minhash_dup_pairs(_docs(spark, n), "id", "key", max_block_size=CAP).count()


def _simhash_dup_pairs(spark, n):
    return simhash_dup_pairs(_docs(spark, n), "id", "key", max_block_size=CAP).count()


def _all_pairs(n):
    return n * (n - 1) // 2


def _cross_pairs(n):
    return (n // 2) * (n - n // 2)


CALLERS = [
    (_candidate_pairs, _all_pairs),
    (_scored_candidate_pairs, _all_pairs),
    (_link_records, _cross_pairs),
    (_meta_block_weights, _all_pairs),
    (_minhash_dup_pairs, _all_pairs),
    (_simhash_dup_pairs, _all_pairs),
]


@pytest.mark.parametrize(
    "pairs, expected", CALLERS, ids=[f.__name__.lstrip("_") for f, _ in CALLERS]
)
def test_block_at_cap_kept_and_one_over_dropped(spark, pairs, expected):
    assert pairs(spark, CAP) == expected(CAP) > 0
    assert pairs(spark, CAP + 1) == 0


@pytest.mark.parametrize("build", [candidate_pairs, scored_candidate_pairs])
def test_building_capped_pairs_runs_no_job(spark, build):
    """The cap is lazy: building a capped pair frame runs no Spark job.
    The over-cap aggregation runs when the result is executed, so a
    frame that is built but never read (``er_stages``' eval-only
    ``pairs``) costs nothing."""
    sc = spark.sparkContext
    group = f"build-{build.__name__}"
    sc.setJobGroup(group, group)
    try:
        out = build(_docs(spark, CAP + 1), "id", "key", max_block_size=CAP)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    release_persisted(out)
    assert jobs == []

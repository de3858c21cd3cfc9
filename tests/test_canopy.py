"""canopy_clusters (operators/canopy.py): overlapping canopies from a
cheap-similarity pair set. Invariants under test: coverage, center
tight-independence, 1-hop loose membership, driver==distributed parity,
and the overlap property that makes canopies canopies."""

import random

import pytest

from deezymatch_spark.operators import canopy_clusters


def pairs_df(spark, rows):
    return spark.createDataFrame(rows, "id1 long, id2 long, sim double")


def run(spark, rows, loose, tight, driver_threshold=2_000_000):
    df = canopy_clusters(
        pairs_df(spark, rows), loose=loose, tight=tight,
        driver_threshold=driver_threshold,
    )
    return {(r.node, r.canopy) for r in df.collect()}


def invariants(rows, got, loose, tight):
    lo = {}
    ti = {}
    nodes = set()
    for a, b, s in rows:
        if a == b or s < loose:
            continue
        nodes |= {a, b}
        if s >= loose:
            lo.setdefault(a, set()).add(b)
            lo.setdefault(b, set()).add(a)
        if s >= tight:
            ti.setdefault(a, set()).add(b)
            ti.setdefault(b, set()).add(a)
    centers = {c for _, c in got}
    # coverage: every node in >= 1 canopy
    assert {n for n, _ in got} >= nodes
    # independence: no two centers tight-adjacent
    for c in centers:
        assert not (ti.get(c, set()) & centers), (c, centers)
    # 1-hop: member is the center or loose-adjacent to it
    for n, c in got:
        assert n == c or n in lo.get(c, set()), (n, c)


def test_hand_case_overlap(spark):
    # chain a-b-c where b is loosely near both, tightly near neither:
    # a and c both become centers (ids ascending), b joins BOTH canopies
    rows = [(1, 2, 0.5), (2, 3, 0.5)]
    got = run(spark, rows, loose=0.4, tight=0.9)
    assert (2, 1) in got and (2, 3) in got  # the overlap
    assert (1, 1) in got and (3, 3) in got
    invariants(rows, got, 0.4, 0.9)


def test_tight_removal_prevents_center(spark):
    # 1 tightly covers 2 -> 2 never centers; 3 loosely near 2 only:
    # 3 centers itself later and pulls 2 in again (overlap via rounds)
    rows = [(1, 2, 0.95), (2, 3, 0.5)]
    got = run(spark, rows, loose=0.4, tight=0.9)
    assert (2, 1) in got and (1, 1) in got
    assert (3, 3) in got and (2, 3) in got
    assert not any(c == 2 for _, c in got)
    invariants(rows, got, 0.4, 0.9)


def _random_rows(seed, n=60, p=0.12):
    rng = random.Random(seed)
    rows = []
    ids = list(range(1, n + 1))
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if rng.random() < p:
                rows.append((ids[i], ids[j], round(rng.random(), 3)))
    return rows


@pytest.mark.parametrize("seed", [3, 17, 42])
def test_driver_equals_distributed(spark, seed):
    rows = _random_rows(seed)
    a = run(spark, rows, loose=0.3, tight=0.7, driver_threshold=2_000_000)
    b = run(spark, rows, loose=0.3, tight=0.7, driver_threshold=0)
    assert a == b
    invariants(rows, a, 0.3, 0.7)


def test_loose_equals_tight_disjoint_pool(spark):
    """loose == tight: membership and removal coincide — canopies can
    still overlap (membership draws from ALL records), but every
    record is removed the first time a center covers it."""
    rows = _random_rows(7)
    got = run(spark, rows, loose=0.5, tight=0.5)
    invariants(rows, got, 0.5, 0.5)


def test_guards_and_empty(spark):
    with pytest.raises(ValueError):
        canopy_clusters(pairs_df(spark, []), loose=0.8, tight=0.5)
    assert run(spark, [], loose=0.3, tight=0.7) == set()
    # below-loose pairs are invisible
    assert run(spark, [(1, 2, 0.1)], loose=0.3, tight=0.7) == set()


def test_driver_path_runs_three_jobs(spark):
    """Under ``driver_threshold`` the canopies come from one size probe
    that also fetches the pairs (``cc._driver_sized``) after the pair
    checkpoint; no adjacency is checkpointed and nothing else is
    counted or collected."""
    df = pairs_df(spark, _random_rows(3))
    sc = spark.sparkContext
    sc.setJobGroup("driver-canopy", "driver-canopy")
    try:
        canopy_clusters(df, loose=0.3, tight=0.7)
        jobs = list(sc.statusTracker().getJobIdsForGroup("driver-canopy"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 3

"""CENTER/STAR clustering: 1-hop radius (anti-chaining), independent
center set, driver/distributed parity, and the chain-breaking contrast
with connected components."""

import random

import pytest
from pyspark.sql import functions as F

from deezymatch_spark.operators.cc import connected_components
from deezymatch_spark.operators.star import center_clusters, star_clusters


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _clusters(df):
    return {r.node: r.cluster for r in df.collect()}


def test_center_breaks_chains(spark):
    # path 1-2-3-4-5: CC glues it into one entity; CENTER caps radius
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = _clusters(center_clusters(e))
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    cc = {r.node: r.component for r in connected_components(e).collect()}
    assert set(cc.values()) == {1}  # the chain CC would produce


def test_star_prefers_hubs_center_prefers_min_id(spark):
    # hub 100 linked to 1..5
    e = _edges(spark, [(100, i) for i in range(1, 6)])
    star = _clusters(star_clusters(e))
    assert star == {100: 100, 1: 100, 2: 100, 3: 100, 4: 100, 5: 100}
    center = _clusters(center_clusters(e))
    # every spoke is a local id-minimum vs its only neighbor 100; the
    # hub joins its min-id center neighbor
    assert center == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 100: 1}


def test_star_degree_tie_breaks_by_id(spark):
    # triangle: equal degrees, min id 7 wins as the single center
    e = _edges(spark, [(7, 8), (8, 9), (7, 9)])
    assert _clusters(star_clusters(e)) == {7: 7, 8: 7, 9: 7}
    assert _clusters(center_clusters(e)) == {7: 7, 8: 7, 9: 7}


def _random_graph(n=120, m=260, seed=7):
    rng = random.Random(seed)
    ids = rng.sample(range(10**9), n)
    pairs = set()
    while len(pairs) < m:
        a, b = rng.sample(ids, 2)
        pairs.add((a, b))
    return list(pairs)


@pytest.mark.parametrize("fn", [center_clusters, star_clusters])
def test_driver_equals_distributed(spark, fn):
    e = _edges(spark, _random_graph())
    via_driver = _clusters(fn(e))
    via_rounds = _clusters(fn(e, driver_threshold=0))
    assert via_driver == via_rounds


@pytest.mark.parametrize("fn", [center_clusters, star_clusters])
def test_one_hop_and_independence(spark, fn):
    pairs = _random_graph(seed=11)
    e = _edges(spark, pairs)
    got = _clusters(fn(e))
    adj = set()
    for a, b in pairs:
        adj.add((a, b))
        adj.add((b, a))
    nodes = {x for p in pairs for x in p}
    assert set(got) == nodes  # every endpoint assigned exactly once
    centers = {v for v, c in got.items() if v == c}
    for v, c in got.items():
        if v != c:
            assert (v, c) in adj, "satellite not adjacent to its center"
            assert c in centers
    for a, b in pairs:  # no two adjacent centers
        assert not (a in centers and b in centers)


def test_not_converged_raises(spark):
    # id-sorted path: exactly one center falls out per round
    e = _edges(spark, [(i, i + 1) for i in range(1, 12)])
    with pytest.raises(RuntimeError, match="not converged"):
        center_clusters(e, max_iterations=3)
    with pytest.raises(RuntimeError, match="not converged"):
        center_clusters(e, max_iterations=3, driver_threshold=0)


def test_exact_last_round_convergence(spark):
    # 1-2: converges in one round; max_iterations=1 must succeed
    e = _edges(spark, [(1, 2)])
    assert _clusters(center_clusters(e, max_iterations=1)) == {1: 1, 2: 1}
    assert _clusters(
        center_clusters(e, max_iterations=1, driver_threshold=0)
    ) == {1: 1, 2: 1}


def test_empty_edges(spark):
    e = _edges(spark, []).where(F.lit(False))
    assert center_clusters(e).count() == 0
    assert star_clusters(e, driver_threshold=0).count() == 0


def test_er_pipeline_clustering_modes(spark):
    from deezymatch_spark.pipeline import er_stages
    from deezymatch_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 400, with_truth=False)
    cc_st = er_stages(pages, spark=spark)
    star_st = er_stages(pages, spark=spark, clustering="star")
    cc_cl = {r.url: r.entity_id for r in cc_st["clusters"].collect()}
    star_cl = {r.url: r.entity_id for r in star_st["clusters"].collect()}
    assert set(cc_cl) == set(star_cl)
    # star refines closure: any star cluster sits inside ONE cc
    # component (members connect through their center)
    star_to_cc = {}
    for url, sid in star_cl.items():
        star_to_cc.setdefault(sid, set()).add(cc_cl[url])
    assert all(len(v) == 1 for v in star_to_cc.values())
    assert len(set(star_cl.values())) >= len(set(cc_cl.values()))
    with pytest.raises(ValueError, match="clustering"):
        er_stages(pages, spark=spark, clustering="bogus")


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("fn", [center_clusters, star_clusters])
def test_driver_path_runs_three_jobs(spark, fn):
    """Under ``driver_threshold`` a clustering checkpoints the canonical
    edges and fetches them with one size probe (``cc._driver_sized``);
    the ranks and adjacency come from the fetched edges on the driver,
    with no count and no collect of ranks or adjacency."""
    e = _edges(spark, _random_graph())
    assert len(_jobs(spark, f"driver-{fn.__name__}", lambda: fn(e))) <= 3

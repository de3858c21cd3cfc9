"""Incremental cluster maintenance (operators/incremental.py) and the
B-cubed cluster metric (operators/metrics.py:bcubed).

The core contract under test: ``update_clusters(cc(E1), E2)`` equals
``cc(E1 ∪ E2)`` for any edge split — folding a delta into an existing
clustering is exactly batch re-clustering, at delta-neighborhood cost.
"""

import pytest
from pyspark.sql import functions as F

from deezymatch_spark.operators import (
    bcubed,
    connected_components,
    minhash_delta_pairs,
    minhash_dup_pairs,
    update_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame([(a, b) for a, b in pairs], "src long, dst long")


def _clusters(df):
    return {(r.node, r.component) for r in df.collect()}


def test_update_merges_and_preserves_untouched(spark):
    # prev: {1,2,3} (comp 1), {10,11} (comp 10), {20,21} (comp 20)
    prev = connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21)]))
    # delta bridges comp 1 and comp 10, adds brand-new nodes 30-31
    out = _clusters(update_clusters(prev, _edges(spark, [(3, 10), (30, 31)])))
    assert out == {
        (1, 1), (2, 1), (3, 1), (10, 1), (11, 1),   # merged under min id 1
        (20, 20), (21, 20),                          # untouched, label stable
        (30, 30), (31, 30),                          # new nodes clustered
    }


def test_update_equals_batch_on_any_split(spark):
    # a chain, a clique, singleton bridges, and new-node components,
    # split so the delta touches every shape
    e_all = [
        (1, 2), (2, 3), (3, 4), (4, 5),          # chain
        (50, 51), (50, 52), (51, 52),            # clique
        (5, 50),                                 # chain↔clique bridge
        (60, 61), (70, 71), (61, 70),            # two pairs bridged
        (80, 81),                                # isolated pair
    ]
    for cut in (3, 6, 8, 10):
        e1, e2 = e_all[:cut], e_all[cut:]
        batch = _clusters(connected_components(_edges(spark, e_all)))
        inc = _clusters(
            update_clusters(connected_components(_edges(spark, e1)), _edges(spark, e2))
        )
        assert inc == batch, f"split at {cut}"


def test_update_distributed_cc_path(spark):
    # driver_threshold=0 forces the large-star/small-star path inside
    # update_clusters' refresh — same result as the driver path
    prev = connected_components(_edges(spark, [(1, 2), (10, 11)]))
    merged = update_clusters(
        prev, _edges(spark, [(2, 10)]), driver_threshold=0
    )
    assert _clusters(merged) == {(1, 1), (2, 1), (10, 1), (11, 1)}


def test_update_over_the_threshold_probes_once(spark, monkeypatch):
    """A closure above ``driver_threshold`` is sized by one probe and
    closed in the distributed rounds; ``connected_components`` does not
    probe it a second time."""
    from deezymatch_spark.operators import cc, incremental

    probes = []

    def counting(edges, driver_threshold=cc.DRIVER_THRESHOLD):
        if driver_threshold:
            probes.append(driver_threshold)
        return cc_sized(edges, driver_threshold)

    cc_sized = cc._driver_sized
    monkeypatch.setattr(cc, "_driver_sized", counting)
    monkeypatch.setattr(incremental, "_driver_sized", counting)
    prev = connected_components(_edges(spark, [(1, 2), (10, 11)]))
    probes.clear()
    # closure: 4 star edges + 1 delta edge, over a threshold of 2
    merged = update_clusters(prev, _edges(spark, [(2, 10)]), driver_threshold=2)
    assert _clusters(merged) == {(1, 1), (2, 1), (10, 1), (11, 1)}
    assert probes == [2]
    # the same rule in connected_components: 3 canonical edges over 2
    out = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4)]), driver_threshold=2)
    assert _clusters(out) == {(1, 1), (2, 1), (3, 1), (4, 1)}


@pytest.fixture(scope="module")
def text_corpus(spark):
    # near-dup families (shared long prefixes) + unique docs; ids chosen
    # so the delta split (id % 3 == 0) cuts through the families
    rows = []
    for i in range(30):
        fam = i % 5
        body = f"the quick brown fox family {fam} jumps over the lazy dog again and again"
        rows.append((i, body + (" tail variation" if i % 2 else "")))
    for i in range(30, 40):
        rows.append((i, f"completely unique document number {i} with its own words {i * 7919}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


PARAMS = dict(gram=5, num_hashes=8, bands=4, jaccard_threshold=0.4,
              max_block_size=1_000_000)


def test_delta_pairs_decompose_batch(spark, text_corpus):
    """old_pairs ∪ delta_pairs == batch pairs, disjointly (cap-free)."""
    is_delta = F.pmod(F.col("doc_id"), F.lit(3)) == 0
    old = text_corpus.where(~is_delta)
    delta_ids = text_corpus.where(is_delta).select("doc_id")

    batch = {(r.id1, r.id2) for r in
             minhash_dup_pairs(text_corpus, "doc_id", "text", **PARAMS).collect()}
    old_p = {(r.id1, r.id2) for r in
             minhash_dup_pairs(old, "doc_id", "text", **PARAMS).collect()}
    delta_p = {(r.id1, r.id2) for r in
               minhash_delta_pairs(text_corpus, delta_ids, "doc_id", "text",
                                   **PARAMS).collect()}
    assert delta_p, "delta must produce edges for the test to mean anything"
    assert old_p | delta_p == batch
    assert not old_p & delta_p
    assert all(a % 3 == 0 or b % 3 == 0 for a, b in delta_p)


def test_incremental_near_dedup_equals_batch(spark, text_corpus):
    """End-to-end: cluster old slice, fold in delta edges, compare the
    full assignment to batch clustering."""
    is_delta = F.pmod(F.col("doc_id"), F.lit(3)) == 0
    old = text_corpus.where(~is_delta)
    delta_ids = text_corpus.where(is_delta).select("doc_id")

    def assignment(comps):
        return {
            (r.doc_id, r.cluster) for r in
            text_corpus.select("doc_id")
            .join(comps, text_corpus.doc_id == comps.node, "left")
            .select("doc_id", F.coalesce("component", "doc_id").alias("cluster"))
            .collect()
        }

    batch_pairs = minhash_dup_pairs(text_corpus, "doc_id", "text", **PARAMS)
    batch = assignment(connected_components(
        batch_pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    ))

    prev = connected_components(
        minhash_dup_pairs(old, "doc_id", "text", **PARAMS)
        .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    delta_edges = minhash_delta_pairs(
        text_corpus, delta_ids, "doc_id", "text", **PARAMS
    ).select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    inc = assignment(update_clusters(prev, delta_edges))
    assert inc == batch


def test_incremental_er_pipeline_matches_batch(spark, tmp_path):
    """Bootstrap + delta ingest through pipeline.incremental_er equals
    the batch pipeline on the union corpus (cap-free), and re-ingesting
    the same delta is a no-op (crash/retry idempotency)."""
    from deezymatch_spark.pipeline import er_stages, incremental_er
    from deezymatch_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 600, with_truth=False)
    is_delta = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    first, second = pages.where(~is_delta), pages.where(is_delta)
    kw = dict(max_block_size=1_000_000)
    state = str(tmp_path / "er_state")

    incremental_er(spark, first, state, **kw)
    a2 = incremental_er(spark, second, state, **kw)
    inc = {(r.url, r.entity_id) for r in a2.collect()}

    st = er_stages(pages, spark=spark, **kw)
    batch = {(r.url, r.entity_id) for r in st["clusters"].collect()}
    assert inc == batch

    a3 = incremental_er(spark, second, state, **kw)
    assert {(r.url, r.entity_id) for r in a3.collect()} == batch


def test_incremental_er_bootstrap_honours_cap_mode(spark, tmp_path):
    """The bootstrap blocks with the caller's ``cap_mode``: on a corpus
    with over-cap blocks, its downsample clusters equal
    ``er_stages(cap_mode="downsample")``'s, which differ from the drop
    cap's."""
    from deezymatch_spark.pipeline import er_stages, incremental_er
    from deezymatch_spark.sources.pages import generate_pages

    base = generate_pages(spark, 300, with_truth=False)
    # 30 more copies of one page under new urls: every key of that
    # title has at least 31 members, over the cap of 8, so only the
    # downsample floor can pair the copies
    copies = spark.range(30).crossJoin(base.orderBy("url").limit(1)).select(
        F.concat("url", F.lit("#"), F.col("id").cast("string")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    pages = base.unionByName(copies)
    kw = dict(max_block_size=8)

    def assignment(df):
        return {(r.url, r.entity_id) for r in df.collect()}

    got = assignment(
        incremental_er(spark, pages, str(tmp_path / "er_state"), cap_mode="downsample", **kw)
    )
    down = assignment(er_stages(pages, spark=spark, cap_mode="downsample", **kw)["clusters"])
    drop = assignment(er_stages(pages, spark=spark, cap_mode="drop", **kw)["clusters"])
    assert down != drop
    assert got == down


def test_incremental_er_recovers_half_done_swap(spark, tmp_path):
    """A job killed between the clusters→clusters_old and
    clusters_next→clusters renames leaves NO clusters table; the next
    incremental_er call must finish the swap (promote the stamped
    clusters_next) instead of crashing on the missing parquet."""
    import os
    import shutil

    from deezymatch_spark.pipeline import incremental_er
    from deezymatch_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 400, with_truth=False)
    is_delta = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    first, second = pages.where(~is_delta), pages.where(is_delta)
    kw = dict(max_block_size=1_000_000)
    state = str(tmp_path / "er_state")

    incremental_er(spark, first, state, **kw)
    expected = {
        (r.url, r.entity_id)
        for r in incremental_er(spark, second, state, **kw).collect()
    }

    # simulate the kill window: clusters renamed away, next not yet in
    clusters = os.path.join(state, "clusters")
    os.rename(clusters, clusters + "_old")
    shutil.copytree(clusters + "_old", clusters + "_next")
    got = incremental_er(spark, second, state, **kw)
    assert {(r.url, r.entity_id) for r in got.collect()} == expected
    assert not os.path.exists(clusters + "_old")

    # second window: crash right after clusters→clusters_old, before
    # clusters_next was written stamped → fall back to clusters_old
    os.rename(clusters, clusters + "_old")
    got2 = incremental_er(spark, second, state, **kw)
    assert {(r.url, r.entity_id) for r in got2.collect()} == expected


NO_CAP = dict(max_block_size=1_000_000)


def _assignment(df):
    """Sorted (url, entity_id) rows: a multiset, so duplicate rows count."""
    return sorted((r.url, r.entity_id) for r in df.collect())


def _table(spark, state, name):
    return sorted(tuple(r) for r in spark.read.parquet(f"{state}/{name}").collect())


def _titled(pages, title, suffix=None):
    """``pages`` with every html replaced by a bare page titled ``title``
    (and ``suffix`` appended to the url, for a new document)."""
    url = F.col("url") if suffix is None else F.concat("url", F.lit(suffix))
    html = F.encode(F.lit(f"<html><head><title>{title}</title></head></html>"), "UTF-8")
    return pages.select(url.alias("url"), "warc_ts", html.alias("html"), "text", "lang")


def _split(spark, n):
    from deezymatch_spark.sources.pages import generate_pages

    pages = generate_pages(spark, n, with_truth=False)
    is_delta = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    return pages, pages.where(~is_delta), pages.where(is_delta)


def test_incremental_er_fold_runs_at_most_18_jobs(spark, tmp_path):
    """One fold computes each delta-sized frame once and closes the
    touched clusters on the driver: at most 18 Spark jobs (the fold
    used to run 35 on a 1% delta of the benchmark corpus)."""
    from deezymatch_spark.pipeline import incremental_er
    from deezymatch_spark.sources.pages import generate_pages

    src = str(tmp_path / "pages")
    generate_pages(spark, 600, with_truth=False).write.parquet(src)
    # the input frames are built (and their schema inferred) outside
    # the job group, so only the fold's own jobs are counted
    read = spark.read.parquet(src)
    is_delta = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    first, second = read.where(~is_delta), read.where(is_delta)
    state = str(tmp_path / "er_state")
    incremental_er(spark, first, state)

    sc = spark.sparkContext
    group = "fold-job-bound"
    sc.setJobGroup(group, group)
    try:
        incremental_er(spark, second, state)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(jobs) <= 18, len(jobs)


def test_incremental_er_fold_without_match_edges(spark, tmp_path):
    """A delta whose pages match nothing appends its docs and leaves
    the edges and clusters rows as they were."""
    from deezymatch_spark.pipeline import er_stages, incremental_er

    pages, first, _ = _split(spark, 300)
    lone = _titled(first.orderBy("url").limit(1), "qqzzxxjj vvkkww", "#lone").unionByName(
        _titled(first.orderBy("url").limit(1), "yyppffgg hhbbmm", "#other")
    )
    state = str(tmp_path / "er_state")
    incremental_er(spark, first, state, **NO_CAP)
    edges, clusters = _table(spark, state, "edges"), _table(spark, state, "clusters")
    n_docs = len(_table(spark, state, "docs"))

    got = _assignment(incremental_er(spark, lone, state, **NO_CAP))
    assert _table(spark, state, "edges") == edges
    assert _table(spark, state, "clusters") == clusters
    assert len(_table(spark, state, "docs")) == n_docs + 2
    assert got == _assignment(
        er_stages(first.unionByName(lone), spark=spark, **NO_CAP)["clusters"]
    )


def test_incremental_er_refetched_url_blocks_on_the_stored_title(spark, tmp_path):
    """A delta that repeats an ingested url under another entity's title
    keeps the stored row: its pairs are scored on the stored title, so
    the fold equals batch over the corpus as first ingested, and the new
    title merges nothing."""
    from deezymatch_spark.pipeline import er_stages, incremental_er
    from deezymatch_spark.sources.pages import generate_pages

    truth = generate_pages(spark, 300, with_truth=True)
    is_delta = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    rows = truth.where(~is_delta).orderBy("url").select("url", "cluster_id", "title").collect()
    x = rows[0]
    y = next(r for r in rows if r.cluster_id != x.cluster_id)
    pages = truth.select("url", "warc_ts", "html", "text", "lang")
    first, second = pages.where(~is_delta), pages.where(is_delta)
    refetch = _titled(first.where(F.col("url") == x.url), y.title)

    state = str(tmp_path / "er_state")
    incremental_er(spark, first, state, **NO_CAP)
    got = _assignment(incremental_er(spark, second.unionByName(refetch), state, **NO_CAP))

    assert got == _assignment(er_stages(pages, spark=spark, **NO_CAP)["clusters"])
    stored = spark.read.parquet(f"{state}/docs").where(F.col("url") == x.url).collect()
    assert [r.title for r in stored] == [x.title]
    # the check bites: blocked on the new title, the page would join y's entity
    eid = dict(got)
    assert eid[x.url] != eid[y.url]
    moved = er_stages(first.where(F.col("url") != x.url).unionByName(refetch), spark=spark, **NO_CAP)
    assert dict(_assignment(moved["clusters"]))[x.url] == dict(_assignment(moved["clusters"]))[y.url]


def test_incremental_er_delta_with_a_repeated_url(spark, tmp_path):
    """A delta holding the same page twice folds like batch over the
    union corpus, which holds it twice as well."""
    from deezymatch_spark.pipeline import er_stages, incremental_er

    pages, first, second = _split(spark, 300)
    delta = second.unionByName(second.orderBy("url").limit(1))
    state = str(tmp_path / "er_state")
    incremental_er(spark, first, state, **NO_CAP)
    got = _assignment(incremental_er(spark, delta, state, **NO_CAP))
    assert got == _assignment(
        er_stages(first.unionByName(delta), spark=spark, **NO_CAP)["clusters"]
    )


def test_incremental_er_five_successive_folds_equal_batch(spark, tmp_path):
    """A bootstrap and five folds: after each, the assignment equals
    batch over every page ingested so far, and the edge lineage holds
    each match edge once."""
    from deezymatch_spark.pipeline import er_stages, incremental_er
    from deezymatch_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 360, with_truth=False)
    part = F.pmod(F.xxhash64("url"), F.lit(6))
    state = str(tmp_path / "er_state")
    incremental_er(spark, pages.where(part == 0), state, **NO_CAP)
    for k in range(1, 6):
        got = _assignment(incremental_er(spark, pages.where(part == k), state, **NO_CAP))
        st = er_stages(pages.where(part <= k), spark=spark, **NO_CAP)
        assert got == _assignment(st["clusters"]), f"fold {k}"
        edges = _table(spark, state, "edges")
        assert len(edges) == len(set(edges)), f"fold {k}"
        assert set(edges) == {tuple(r) for r in st["matches"].select("id1", "id2").collect()}


def test_incremental_er_pre_lineage_state_raises_and_is_left_unchanged(spark, tmp_path):
    """A state whose ``docs`` is committed but which has no ``edges``
    table (from before edge lineage) is refused at the start of every
    call, fold or deletion, with a re-bootstrap hint, and not a file of
    it changes."""
    import hashlib
    import os
    import pathlib
    import shutil

    from deezymatch_spark.pipeline import incremental_er

    def snapshot(root):
        return {
            str(f.relative_to(root)): hashlib.sha256(f.read_bytes()).hexdigest()
            for f in pathlib.Path(root).rglob("*")
            if f.is_file()
        }

    _, first, second = _split(spark, 300)
    state = str(tmp_path / "er_state")
    incremental_er(spark, first, state, **NO_CAP)
    shutil.rmtree(os.path.join(state, "edges"))
    before = snapshot(state)
    some_ids = first.select(F.xxhash64("url").alias("id")).limit(3)
    for pages_new, deleted_ids in ((second, None), (None, some_ids), (second, some_ids)):
        with pytest.raises(RuntimeError, match="no edge lineage table.*re-bootstrap"):
            incremental_er(spark, pages_new, state, deleted_ids=deleted_ids, **NO_CAP)
    assert snapshot(state) == before


def test_incremental_er_pair_scorer_equals_batch(spark, tmp_path):
    """With a ``pair_scorer``, the fold keeps a JW match only where the
    scorer passes too, as the batch pipeline does."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from deezymatch_spark.pipeline import er_stages, incremental_er

    @pandas_udf("double")
    def same_length(a: pd.Series, b: pd.Series) -> pd.Series:
        return (a.str.len() == b.str.len()).astype("float64")

    pages, first, second = _split(spark, 300)
    kw = dict(pair_scorer=same_length, **NO_CAP)
    state = str(tmp_path / "er_state")
    incremental_er(spark, first, state, **kw)
    got = _assignment(incremental_er(spark, second, state, **kw))
    scored = _assignment(er_stages(pages, spark=spark, **kw)["clusters"])
    assert got == scored
    assert scored != _assignment(er_stages(pages, spark=spark, **NO_CAP)["clusters"])


def test_remove_nodes_splits_and_preserves_untouched(spark):
    """Deleting a cut vertex must SPLIT its component — the case star
    edges alone cannot decide, which is why remove_nodes takes the real
    edge table."""
    from deezymatch_spark.operators import remove_nodes

    # comp 1 is a path 1-2-3-4-5 (3 is a cut vertex); comp 10 untouched
    e = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    prev = connected_components(_edges(spark, e))
    deleted = spark.createDataFrame([(3,)], "id long")
    out = _clusters(remove_nodes(prev, _edges(spark, e), deleted))
    assert out == {
        (1, 1), (2, 1),          # left half of the split
        (4, 4), (5, 4),          # right half, re-labeled to its min id
        (10, 10), (11, 10),      # untouched component, label stable
    }


def test_remove_nodes_equals_batch_property(spark):
    """remove_nodes(cc(E), E, D) == cc(E restricted to V \\ D) for
    deletions of every structural role: cut vertex, clique member,
    component minimum (label changes), whole component, absent id."""
    from deezymatch_spark.operators import remove_nodes

    e = [
        (1, 2), (2, 3), (3, 4), (4, 5),          # chain
        (50, 51), (50, 52), (51, 52),            # clique
        (5, 50),                                 # chain↔clique bridge
        (60, 61), (70, 71), (61, 70),            # two pairs bridged
        (80, 81),                                # isolated pair
    ]
    cases = [
        [3],            # cut vertex: splits the chain
        [50],           # clique member: clique survives, bridge dies
        [1],            # component minimum: labels shift to next min
        [80, 81],       # delete a whole component
        [999],          # absent id: exact no-op
        [5, 61, 80],    # mixed multi-delete
    ]
    edges = _edges(spark, e)
    prev = connected_components(edges)
    for dele in cases:
        survivors = [
            (a, b) for a, b in e if a not in dele and b not in dele
        ]
        batch = _clusters(connected_components(_edges(spark, survivors)))
        got = _clusters(
            remove_nodes(prev, edges, spark.createDataFrame([(d,) for d in dele], "id long"))
        )
        assert got == batch, f"deleted {dele}"


def test_incremental_er_delete_then_reingest_equals_batch(spark, tmp_path):
    """Pipeline-level deletion: retracting pages equals batch over the
    surviving set; deletion is idempotent; re-ingesting the deleted
    pages restores full-batch equality."""
    from deezymatch_spark.pipeline import er_stages, incremental_er
    from deezymatch_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 500, with_truth=False)
    h = F.pmod(F.xxhash64("url"), F.lit(5))
    first, second = pages.where(h != 0), pages.where(h == 0)
    doomed = pages.where(h == 1)   # ingested in the first batch
    kw = dict(max_block_size=1_000_000)
    state = str(tmp_path / "er_state")

    incremental_er(spark, first, state, **kw)
    incremental_er(spark, second, state, **kw)

    # deletion-only refresh (pages_new=None)
    doomed_ids = doomed.select(F.xxhash64("url").alias("id"))
    a_del = incremental_er(spark, None, state, deleted_ids=doomed_ids, **kw)
    got = {(r.url, r.entity_id) for r in a_del.collect()}

    st = er_stages(pages.where(h != 1), spark=spark, **kw)
    batch_survivors = {(r.url, r.entity_id) for r in st["clusters"].collect()}
    assert got == batch_survivors

    # idempotent: deleting the same ids again changes nothing
    a_del2 = incremental_er(spark, None, state, deleted_ids=doomed_ids, **kw)
    assert {(r.url, r.entity_id) for r in a_del2.collect()} == batch_survivors

    # re-ingest of the deleted pages restores full-batch equality
    a_back = incremental_er(spark, doomed, state, **kw)
    st2 = er_stages(pages, spark=spark, **kw)
    batch_all = {(r.url, r.entity_id) for r in st2["clusters"].collect()}
    assert {(r.url, r.entity_id) for r in a_back.collect()} == batch_all


def test_incremental_er_delete_guards(spark, tmp_path):
    """Deletions are fenced out of a state whose edge lineage does not
    reflect the clustering: an ingest crashed between its edge append
    and cluster swap raises until that ingest is re-run, and the re-run
    heals and clears the fence."""
    import os

    from deezymatch_spark.pipeline import incremental_er
    from deezymatch_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 300, with_truth=False)
    h = F.pmod(F.xxhash64("url"), F.lit(5))
    first, second = pages.where(h != 0), pages.where(h == 0)
    some_ids = pages.where(h == 1).select(F.xxhash64("url").alias("id"))
    kw = dict(max_block_size=1_000_000)

    # crashed ingest window: edges appended, clusters not swapped —
    # simulated by the durable _INGEST_PENDING fence the ingest sets
    # before its append and clears after its swap
    state = str(tmp_path / "state")
    incremental_er(spark, first, state, **kw)
    incremental_er(spark, second, state, **kw)
    assert not os.path.exists(os.path.join(state, "_INGEST_PENDING"))
    with open(os.path.join(state, "_INGEST_PENDING"), "w"):
        pass
    with pytest.raises(RuntimeError, match="re-run that ingest"):
        incremental_er(spark, None, state, deleted_ids=some_ids, **kw)
    # re-running the crashed ingest is idempotent, heals, and unfences
    incremental_er(spark, second, state, **kw)
    assert not os.path.exists(os.path.join(state, "_INGEST_PENDING"))
    incremental_er(spark, None, state, deleted_ids=some_ids, **kw)


def test_bcubed_scaled_range_guard(spark):
    """scaled=True must raise (not silently wrap the long) when a
    contingency cell exceeds the exact-integer range: n_pt²·10¹² < 2⁶³
    ⟹ cells of at most 3,037 items (the r3 review found the original
    guard was set 1000× too lax at 3_037_000 — a 5,000-item cell
    wrapped silently right past it)."""
    import pytest

    from deezymatch_spark.operators.metrics import bcubed

    df = spark.range(3_038).select(
        F.col("id"), F.lit(1).alias("pred"), F.lit("x").alias("truth")
    )
    with pytest.raises(Exception, match="exact-integer range"):
        bcubed(df, id_col="id", pred_col="pred", truth_col="truth",
               scaled=True).collect()

    # the largest in-range cell still computes exactly: one 3,037-item
    # cell in perfect agreement → every micro metric is exactly 10⁶
    ok = spark.range(3_037).select(
        F.col("id"), F.lit(1).alias("pred"), F.lit("x").alias("truth")
    )
    m = bcubed(ok, id_col="id", pred_col="pred", truth_col="truth",
               scaled=True).collect()[0]
    assert (m.precision_micro, m.recall_micro, m.f1_micro) == (
        1_000_000, 1_000_000, 1_000_000
    )


def test_bcubed_hand_example(spark):
    # classic example: truth {a,b,c}{d,e}; pred {a,b}{c,d,e}
    rows = [("a", 1, "x"), ("b", 1, "x"), ("c", 2, "x"), ("d", 2, "y"), ("e", 2, "y")]
    df = spark.createDataFrame(rows, "id string, pred int, truth string")
    r = bcubed(df).collect()[0]
    # precision: a,b = 1, c = 1/3, d,e = 2/3 → (1+1+1/3+2/3+2/3)/5
    assert r.precision == pytest.approx((1 + 1 + 1 / 3 + 2 / 3 + 2 / 3) / 5)
    # recall: a,b = 2/3, c = 1/3, d,e = 1 → (2/3+2/3+1/3+1+1)/5
    assert r.recall == pytest.approx((2 / 3 + 2 / 3 + 1 / 3 + 1 + 1) / 5)
    assert r.n_items == 5
    p, q = r.precision, r.recall
    assert r.f1 == pytest.approx(2 * p * q / (p + q))


def test_bcubed_perfect_and_scaled(spark):
    rows = [(i, i // 3, i // 3) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, pred long, truth long")
    r = bcubed(df).collect()[0]
    assert (r.precision, r.recall, r.f1) == (1.0, 1.0, 1.0)
    s = bcubed(df, scaled=True).collect()[0]
    assert (s.precision_micro, s.recall_micro, s.f1_micro, s.n_items) == (
        1_000_000, 1_000_000, 1_000_000, 12,
    )


def test_bcubed_scaled_matches_double_path(spark):
    rows = [("a", 1, "x"), ("b", 1, "x"), ("c", 2, "x"), ("d", 2, "y"), ("e", 2, "y")]
    df = spark.createDataFrame(rows, "id string, pred int, truth string")
    d = bcubed(df).collect()[0]
    s = bcubed(df, scaled=True).collect()[0]
    assert s.precision_micro == round(d.precision * 1e6)
    assert s.recall_micro == round(d.recall * 1e6)

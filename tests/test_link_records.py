"""Two-table linkage: gated-pair parity with a naive cross join,
cap behavior, and the one-to-one property."""

from pyspark.sql import functions as F

from deezymatch_spark.functions.udfs import jaro_winkler
from deezymatch_spark.operators.blocking import release_persisted
from deezymatch_spark.operators.linkage import link_records


LEFT = [
    (1, "john smith"),
    (2, "acme corporation"),
    (3, "zanzibar"),
    (4, "completely unique alpha"),
    (5, "tiny"),
]
RIGHT = [
    (101, "jon smith"),        # 1 edit from "john smith"
    (102, "acme corporatian"),  # 1 edit
    (103, "zanzibar"),          # exact
    (104, "unrelated omega"),
    (105, "tinny"),             # 1 edit from "tiny"
    (106, "jahn smith"),        # 1 edit from "john smith" too
]


def _lev(a, b):
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
        prev = cur
    return prev[n]


def _gated_truth(lev_max=2):
    out = set()
    for lid, lt in LEFT:
        for rid, rt in RIGHT:
            a, b = lt.lower(), rt.lower()
            if abs(len(a) - len(b)) <= lev_max and _lev(a, b) <= lev_max:
                out.add((lid, rid))
    return out


def _tables(spark):
    l = spark.createDataFrame(LEFT, "id long, key string").withColumn(
        "key", F.lower("key")
    )
    r = spark.createDataFrame(RIGHT, "id long, key string").withColumn(
        "key", F.lower("key")
    )
    return l, r


def test_link_records_matches_naive_gates(spark):
    l, r = _tables(spark)
    out = link_records(l, r, max_block_size=100, use_minhash=False)
    got = {(row.left_id, row.right_id) for row in out.collect()}
    release_persisted(out)
    assert got == _gated_truth()
    # the known fuzzy matches are all present
    assert {(1, 101), (2, 102), (3, 103), (5, 105), (1, 106)} <= got


def test_jw_scores_and_threshold(spark):
    l, r = _tables(spark)
    out = link_records(l, r, max_block_size=100, use_minhash=False)
    rows = {(row.left_id, row.right_id): row.jw for row in out.collect()}
    release_persisted(out)
    assert rows[(3, 103)] == 1.0
    assert rows[(1, 101)] == jaro_winkler("john smith", "jon smith")
    thr = link_records(
        l, r, max_block_size=100, jw_threshold=0.999, use_minhash=False
    )
    kept = {(row.left_id, row.right_id) for row in thr.collect()}
    release_persisted(thr)
    assert kept == {(3, 103)}


def test_one_to_one_assignment(spark):
    l, r = _tables(spark)
    out = link_records(l, r, max_block_size=100, one_to_one=True, use_minhash=False)
    rows = [(row.left_id, row.right_id) for row in out.collect()]
    release_persisted(out)
    lefts = [a for a, _ in rows]
    rights = [b for _, b in rows]
    assert len(lefts) == len(set(lefts)) and len(rights) == len(set(rights))
    # 1 has two 1-edit partners (101 jw .975, 106 jw .925): keeps the best
    assert (1, 101) in rows and (1, 106) not in rows
    assert (3, 103) in rows


def test_union_cap_drops_shared_hot_key(spark):
    # 30 left + 30 right rows share the word key "hotword"; per-side
    # count is 30 but the UNION count 60 exceeds the cap -> no pairs
    l = spark.createDataFrame(
        [(i, f"hotword l{i:02d}") for i in range(30)], "id long, key string"
    )
    r = spark.createDataFrame(
        [(100 + i, f"hotword l{i:02d}") for i in range(30)], "id long, key string"
    )
    capped = link_records(l, r, max_block_size=50, lev_max=2, use_minhash=False)
    n_capped = capped.count()
    release_persisted(capped)
    open_ = link_records(l, r, max_block_size=200, lev_max=2, use_minhash=False)
    n_open = open_.count()
    release_persisted(open_)
    assert n_open > n_capped

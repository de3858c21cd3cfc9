"""Pre-flight diagnostics: blocking_preflight's TOTAL row must equal
the exact within-block comparison count the pair join would emit, and
the LSH S-curve helpers must match the closed form
p(s) = 1 - (1 - s^r)^b."""

import pytest
from pyspark.sql import functions as F

from deezymatch_spark.functions.hashing import lsh_detection_curve, lsh_threshold
from deezymatch_spark.operators.blocking import blocking_keys, blocking_preflight


def _keys_fixture(spark):
    # block sizes by shared 6-char prefix: "aaaaaa" x4, "bbbbbb" x3,
    # "cccccc" x2, plus 5 singletons -> C(4,2)+C(3,2)+C(2,2) = 6+3+1 = 10
    rows = [(i, f"aaaaaa tail {i}") for i in range(4)]
    rows += [(10 + i, f"bbbbbb tail {i}") for i in range(3)]
    rows += [(20 + i, f"cccccc tail {i}") for i in range(2)]
    rows += [(30 + i, f"solo{i:02d} tail") for i in range(5)]
    df = spark.createDataFrame(rows, "id long, key string")
    return blocking_keys(df, "id", "key")


def _total(keys, **kw):
    rows = [r for r in blocking_preflight(keys, **kw).collect() if r.family == "TOTAL"]
    assert len(rows) == 1
    return rows[0]


def _block_sizes(keys):
    return [r.n for r in keys.groupBy("block_key").agg(F.count("*").alias("n")).collect()]


def test_preflight_total_matches_join_count(spark):
    keys = _keys_fixture(spark)
    tot = _total(keys)
    sizes = _block_sizes(keys)
    assert tot.n_blocks == len(sizes)
    assert tot.n_key_rows == sum(sizes)
    assert tot.est_pairs == sum(n * (n - 1) // 2 for n in sizes)
    # and it matches the join the estimate stands in for
    joined = (
        keys.alias("a")
        .join(keys.alias("b"), "block_key")
        .where(F.col("a.id") < F.col("b.id"))
        .count()
    )
    assert tot.est_pairs == joined


def test_preflight_total_cap_excludes_over_cap_blocks(spark):
    keys = _keys_fixture(spark)
    cap = 3
    tot = _total(keys, max_block_size=cap)
    # over-cap blocks are excluded from the capped price entirely, and
    # the capped price is the join count over the surviving blocks
    sizes = _block_sizes(keys)
    kept = [n for n in sizes if n <= cap]
    assert len(kept) < len(sizes)  # the fixture really has an over-cap block
    assert tot.over_cap_blocks == len(sizes) - len(kept)
    assert tot.est_pairs_capped == sum(n * (n - 1) // 2 for n in kept)
    small = keys.join(
        keys.groupBy("block_key").count().where(F.col("count") <= cap), "block_key", "left_semi"
    )
    joined = (
        small.alias("a")
        .join(small.alias("b"), "block_key")
        .where(F.col("a.id") < F.col("b.id"))
        .count()
    )
    assert tot.est_pairs_capped == joined


def test_preflight_total_on_empty_input(spark):
    empty = spark.createDataFrame([], "block_key string, id long")
    tot = _total(empty, max_block_size=3)
    assert (
        tot.n_blocks, tot.n_key_rows, tot.max_block, tot.est_pairs,
        tot.over_cap_blocks, tot.est_pairs_capped,
    ) == (0, 0, 0, 0, 0, 0)


def test_lsh_curve_shape():
    b, r = 20, 5
    curve = lsh_detection_curve(b, r, n_points=11)
    assert curve[0] == (0.0, 0.0)
    s_last, p_last = curve[-1]
    assert s_last == 1.0 and p_last == pytest.approx(1.0)
    probs = [p for _, p in curve]
    assert all(p2 >= p1 for p1, p2 in zip(probs, probs[1:]))  # monotone
    for s, p in curve:
        assert p == pytest.approx(1.0 - (1.0 - s**r) ** b)


def test_lsh_threshold_half_detection():
    b, r = 20, 5
    t = lsh_threshold(b, r)
    assert t == pytest.approx((1.0 / b) ** (1.0 / r))
    p_at_t = 1.0 - (1.0 - t**r) ** b
    assert 0.4 < p_at_t < 0.75  # (1/b)^(1/r) is the ~half-detection knee


def test_lsh_curve_validation():
    with pytest.raises(ValueError):
        lsh_detection_curve(0, 5)
    with pytest.raises(ValueError):
        lsh_detection_curve(4, 4, n_points=1)


def test_blocking_preflight_rollup(spark):
    keys = _keys_fixture(spark)
    cap = 3
    rows = {r.family: r for r in blocking_preflight(keys, max_block_size=cap).collect()}
    assert "TOTAL" in rows
    fams = [f for f in rows if f != "TOTAL"]
    assert fams and all(f.endswith(":") for f in fams)
    tot = rows["TOTAL"]
    # join cost is additive across (disjoint-prefix) families
    for col in ("n_blocks", "n_key_rows", "est_pairs", "over_cap_blocks", "est_pairs_capped"):
        assert getattr(tot, col) == sum(getattr(rows[f], col) for f in fams), col
    assert tot.est_pairs_capped <= tot.est_pairs
    assert tot.over_cap_blocks >= 1  # the size-4 gram block is over cap
    # capped total = the within-cap blocks' C(n, 2) sum
    sizes = _block_sizes(keys)
    assert tot.est_pairs_capped == sum(n * (n - 1) // 2 for n in sizes if n <= cap)
    assert tot.max_block == max(sizes)


def test_pipeline_preflight_prices_the_real_keys(spark):
    from deezymatch_spark.functions.phonetic import soundex_token_keys
    from deezymatch_spark.functions.udfs import normalize_udf
    from deezymatch_spark.pipeline import preflight_report
    from deezymatch_spark.sources.pages import generate_pages, extract_title

    pages = generate_pages(spark, 300, with_truth=False)
    cap = 50
    rows = {
        r.family: r
        for r in preflight_report(
            pages, max_block_size=cap, use_phonetic=True
        ).collect()
    }
    assert set(rows) >= {"g:", "w:", "p:", "TOTAL"}
    # independent recompute: same key build, python-side C(n,2) sum
    docs = pages.select(
        F.xxhash64("url").alias("id"), extract_title(F.col("html")).alias("title")
    ).withColumn("title_norm", normalize_udf(F.col("title")))
    keys = blocking_keys(docs, "id", "title_norm", use_minhash=False).select(
        "id", "block_key"
    )
    # p: keys built here from the soundex codes, not through the
    # blocking_keys(use_phonetic=True) path the report itself uses
    keys = keys.unionByName(
        docs.select("id", F.explode(soundex_token_keys(F.col("title_norm"))).alias("sx"))
        .select("id", F.concat(F.lit("p:"), "sx").alias("block_key"))
    )
    sizes = [r.n for r in keys.groupBy("block_key").agg(F.count("*").alias("n")).collect()]
    want = sum(n * (n - 1) // 2 for n in sizes if n <= cap)
    assert rows["TOTAL"].est_pairs_capped == want
    assert rows["TOTAL"].n_key_rows == len(keys.collect()) == sum(sizes)


def test_exact_recall_audit(spark):
    """exact_recall_audit: gold = complete edjoin pair set; a candidate
    set missing exactly one gold pair reads PC = found/gold exactly."""
    from deezymatch_spark.pipeline import exact_recall_audit

    docs = spark.createDataFrame(
        [(1, "alpha bravo"), (2, "alpha bravo!"), (3, "alpha brav"),
         (4, "charlie delta"), (5, "charlie celta"), (6, "unrelated zz")],
        "id long, title_norm string",
    )
    # gold at lev<=2: (1,2)=1 (2,3)=2 (1,3)=1 (4,5)=1 -> 4 pairs
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (1, 6)],  # misses (2,3); (1,6) is junk
        "id1 long, id2 long",
    )
    row = exact_recall_audit(docs, cand, lev_max=2).collect()[0]
    assert row.n_gold == 4
    assert row.n_cand == 4
    assert row.n_found == 3
    assert row.pair_completeness_micro == 3 * 1_000_000 // 4
    assert row.pairs_quality_micro == 3 * 1_000_000 // 4

    # sampling path: deterministic, restricted to sampled ids, re-runs
    # identically
    a = exact_recall_audit(docs, cand, lev_max=2, sample_fraction=0.8).collect()
    b = exact_recall_audit(docs, cand, lev_max=2, sample_fraction=0.8).collect()
    assert a == b

    with pytest.raises(ValueError):
        exact_recall_audit(docs, cand, sample_fraction=0.0)


def test_exact_recall_audit_on_real_pipeline(spark):
    """The flagship's g:/w: key families measured against the EXACT
    lev<=2 gold on a real (small) corpus: recall must be perfect here —
    the synthetic titles are long enough that an edit cannot wipe out
    every shared key (the measured 0.9998 at 200k pages comes from
    rarer short-title collisions)."""
    from deezymatch_spark.pipeline import er_stages, exact_recall_audit
    from deezymatch_spark.sources.pages import generate_pages

    stages = er_stages(generate_pages(spark, 400, with_truth=False), spark=spark)
    row = exact_recall_audit(stages["docs"], stages["pairs"], lev_max=2).collect()[0]
    assert row.n_gold > 0
    assert row.pair_completeness_micro == 1_000_000

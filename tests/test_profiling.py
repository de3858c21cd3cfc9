"""profile_columns / top_values (operators/profiling.py)."""

from pyspark.sql import functions as F

from deezymatch_spark.operators import profile_columns, top_values

ROWS = [
    (1, "en", "web"),
    (2, "en", "web"),
    (3, "de", None),
    (4, None, "news"),
    (5, "en", "news"),
    (6, "fr", "web"),
]
SCHEMA = "id long, lang string, source string"


def test_profile_stats(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {
        r["column"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
        for r in profile_columns(df).collect()
    }
    assert got == {
        "id": (6, 0, 6),
        "lang": (6, 1, 3),
        "source": (6, 1, 2),
    }


def test_top_values_ranking_and_ties(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = [
        (r["column"], r["value"], r["n"], r["rank"])
        for r in top_values(df, ["lang", "source"], k=2)
        .orderBy("column", "rank")
        .collect()
    ]
    # source: web=3, news=2; lang: en=3, then de/fr tie at 1 -> 'de' wins
    assert got == [
        ("lang", "en", 3, 1),
        ("lang", "de", 1, 2),
        ("source", "web", 3, 1),
        ("source", "news", 2, 2),
    ]


def test_nulls_never_counted_as_values(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    vals = {
        r["value"] for r in top_values(df, ["lang", "source"], k=10).collect()
    }
    assert None not in vals


def test_single_scan_plan(spark):
    """The stats report must scan the input once, not once per column:
    zero extra exchanges beyond the two aggregation phases and no
    per-column unions of separate scans."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    plan = profile_columns(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1


def test_approx_distinct_within_three_rsd_of_exact(spark):
    """``exact_distinct=False`` swaps in ``approx_count_distinct``
    (HyperLogLog++, default rsd 0.05): on a column of 10,007 distinct
    values its estimate stays within 3 x rsd of the exact count."""
    df = spark.range(50_000).select((F.col("id") % 10_007).alias("v"))
    exact = profile_columns(df).collect()[0]["n_distinct"]
    approx = profile_columns(df, exact_distinct=False).collect()[0]["n_distinct"]
    assert exact == 10_007
    assert abs(approx - exact) <= 3 * 0.05 * exact, approx

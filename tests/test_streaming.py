"""Structured Streaming: watermarked windowed aggregation matches the
batch result; the stream-static ER match stage produces the same
matches as the batch pipeline on the same rows."""

import os

from pyspark.sql import functions as F

from deezymatch_spark.sources.pages import generate_pages
from deezymatch_spark.streaming import (
    streaming_entity_matches,
    windowed_event_counts,
)

EVENTS_SCHEMA = "ts timestamp, event_type string, value double"


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events_in")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.select("ts", "event_type", "value").write.parquet(src)

    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
    )
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in spark.sql("select * from win_counts").collect()
    }
    expected = {
        (r.hour, r.event_type): (r.n, round(r.sum_value, 6))
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch aggregate exactly
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v


def test_streaming_entity_matches_parity_with_batch(spark, tmp_path):
    src = str(tmp_path / "pages_in")
    ckpt = str(tmp_path / "ckpt")
    outd = str(tmp_path / "matches_out")

    pages = generate_pages(spark, 200, with_truth=False)
    pages.write.parquet(src)

    from deezymatch_spark.functions import normalize_udf
    from deezymatch_spark.sources.pages import extract_title

    static = (
        spark.read.parquet(src)
        .select(F.xxhash64("url").alias("id"), "html")
        .select("id", normalize_udf(extract_title(F.col("html"))).alias("title_norm"))
    )

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = streaming_entity_matches(
        stream, static, checkpoint_dir=ckpt, output_dir=outd
    )
    q.awaitTermination(180)

    got = spark.read.parquet(outd)
    # every page exact-matches itself in the static table
    self_matches = got.where(F.col("id") == F.col("cand_id")).count()
    assert self_matches == 200
    # restart with same checkpoint: availableNow re-run adds nothing new
    q2 = streaming_entity_matches(
        stream, static, checkpoint_dir=ckpt, output_dir=outd
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(outd).count() == got.count()

    # release the static-side key caches both queries pinned — repeated
    # invocations in one session must not leak cached blocks
    from deezymatch_spark.streaming import release_query_caches

    handles = [q._dzm_persisted, q2._dzm_persisted]
    for qq in (q, q2):
        release_query_caches(qq)
        assert qq._dzm_persisted is None
        release_query_caches(qq)  # idempotent no-op
    # both queries' key caches (shared cache entry — identical plan)
    # are actually gone from the cache manager
    for h in handles:
        assert not h.storageLevel.useMemory


def test_streaming_entity_matches_rows_equal_blocked_cross_join(spark, tmp_path):
    """The written ``(id, cand_id, lev, jw)`` rows equal a reference
    built without the pair join: the full cross join of pages ×
    candidates, kept when the two share a blocking key that is not over
    the cap among the candidates, with lev <= lev_max and
    jw >= jw_threshold. Each pair is written once."""
    from deezymatch_spark.functions import normalize_udf
    from deezymatch_spark.functions.udfs import jaro_winkler
    from deezymatch_spark.operators.blocking import blocking_keys
    from deezymatch_spark.sources.pages import extract_title
    from deezymatch_spark.streaming import release_query_caches

    src = str(tmp_path / "pages_in")
    outd = str(tmp_path / "matches_out")
    generate_pages(spark, 200, with_truth=False).write.parquet(src)
    static = (
        spark.read.parquet(src)
        .select(F.xxhash64("url").alias("id"), "html")
        .select("id", normalize_udf(extract_title(F.col("html"))).alias("title_norm"))
    )
    # at cap 3 the cap removes matches on this fixture (from cap 4 on,
    # every match also shares a key under the cap)
    cap, lev_max, jw_threshold = 3, 2, 0.82
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = streaming_entity_matches(
        stream, static, max_block_size=cap, lev_max=lev_max, jw_threshold=jw_threshold,
        checkpoint_dir=str(tmp_path / "ckpt"), output_dir=outd,
    )
    q.awaitTermination(180)
    release_query_caches(q)
    got = [(r.id, r.cand_id, r.lev, r.jw) for r in spark.read.parquet(outd).collect()]

    keys = blocking_keys(static, "id", "title_norm", use_minhash=False)
    hot = {
        r.block_key
        for r in keys.groupBy("block_key").count().where(F.col("count") > cap).collect()
    }
    docs = static.join(keys.groupBy("id").agg(F.collect_set("block_key").alias("k")), "id")
    ref = (
        docs.alias("s")
        .crossJoin(docs.alias("c"))
        .select(
            F.col("s.id").alias("id"),
            F.col("c.id").alias("cand_id"),
            F.levenshtein("s.title_norm", "c.title_norm").alias("lev"),
            F.col("s.title_norm").alias("t1"),
            F.col("c.title_norm").alias("t2"),
            F.col("s.k").alias("ks"),
            F.col("c.k").alias("kc"),
        )
        .where(F.col("lev") <= lev_max)
    )
    shared, want = set(), set()
    for r in ref.collect():
        jw = jaro_winkler(r.t1, r.t2)
        if jw >= jw_threshold and set(r.ks) & set(r.kc):
            shared.add((r.id, r.cand_id, r.lev, jw))
            if set(r.ks) & (set(r.kc) - hot):
                want.add((r.id, r.cand_id, r.lev, jw))
    assert len(want) > 200  # more than the self-matches
    assert want != shared  # the cap removes some matches
    assert len(got) == len(set(got))
    assert set(got) == want


def test_streaming_sink_idempotent_on_batch_redelivery(spark, tmp_path):
    """Exactly-once claim: redelivering an already-written micro-batch
    (fresh checkpoint, same output dir — the worst-case 'retry after
    write, before checkpoint commit') must NOT duplicate rows, because
    the sink dynamically overwrites the batch_id partition."""
    src = str(tmp_path / "pages_in")
    outd = str(tmp_path / "matches_out")

    pages = generate_pages(spark, 50, with_truth=False)
    pages.write.parquet(src)

    from deezymatch_spark.functions import normalize_udf
    from deezymatch_spark.sources.pages import extract_title

    static = (
        spark.read.parquet(src)
        .select(F.xxhash64("url").alias("id"), "html")
        .select("id", normalize_udf(extract_title(F.col("html"))).alias("title_norm"))
    )
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)

    q = streaming_entity_matches(
        stream, static, checkpoint_dir=str(tmp_path / "ckpt1"), output_dir=outd
    )
    q.awaitTermination(180)
    n1 = spark.read.parquet(outd).count()
    assert n1 >= 50

    # redelivery: a brand-new checkpoint re-emits the same data as
    # batch 0 into the same output dir
    q2 = streaming_entity_matches(
        stream, static, checkpoint_dir=str(tmp_path / "ckpt2"), output_dir=outd
    )
    q2.awaitTermination(180)
    n2 = spark.read.parquet(outd).count()
    assert n2 == n1  # a blind append sink would show 2*n1


def test_streaming_exact_dedup(spark, tmp_path):
    """Exactly one row per content fingerprint survives a micro-batch
    (which survivor is arbitrary — same as batch dropDuplicates);
    distinct contents all pass through."""
    import datetime

    from deezymatch_spark.streaming import streaming_exact_dedup

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        (1, "alpha body", ts(0)),
        (2, "alpha body", ts(1)),    # dup within horizon -> dropped
        (3, "alpha body", ts(2)),    # dup within horizon -> dropped
        (4, "beta body", ts(2)),
        (5, "gamma body", ts(3)),
    ]
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = streaming_exact_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select doc_id, text from dedup_out").collect()
    assert len(got) == 3  # one survivor per distinct content
    assert sorted(r.text for r in got) == ["alpha body", "beta body", "gamma body"]
    alpha_id = next(r.doc_id for r in got if r.text == "alpha body")
    assert alpha_id in (1, 2, 3)
    assert {r.doc_id for r in got if r.text != "alpha body"} == {4, 5}


def test_streaming_window_matches_parity_with_batch_twin(spark, tmp_path):
    """Stream-stream within-horizon self-match == batch twin: pairs
    sharing >= 1 blocking key with |dts| <= horizon and lev <= 2,
    each unordered pair exactly once (dedup_pairs)."""
    from deezymatch_spark.streaming import streaming_window_matches
    from deezymatch_spark.streaming.ops import streaming_pages_normalize
    from deezymatch_spark.operators.blocking import _hash_block_keys, blocking_keys

    src = str(tmp_path / "pages_ss")
    pages = generate_pages(spark, 600, with_truth=False)
    pages.write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = streaming_window_matches(
        streaming_pages_normalize(stream),
        horizon="10 minutes", watermark="30 minutes", lev_max=2,
    )
    q = (
        out.writeStream.format("memory").queryName("ss_matches")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r.id1, r.id2): r.lev
        for r in spark.sql("select * from ss_matches").collect()
    }

    # batch twin over the same rows, naive join on the same hashed keys
    docs = streaming_pages_normalize(spark.read.parquet(src))
    keys = _hash_block_keys(
        blocking_keys(docs, "id", "title_norm", use_minhash=False, payload=True)
    ).join(docs.select("id", F.col("warc_ts").alias("ts")), "id")
    a, b = keys.alias("a"), keys.alias("b")
    want = {
        ((r.id1, r.id2)): r.lev
        for r in a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(
            (F.abs(F.col("a.ts").cast("long") - F.col("b.ts").cast("long")) <= 600)
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.levenshtein(F.col("a._k"), F.col("b._k"), 2).alias("lev"),
        )
        .where(F.col("lev") >= 0)
        .distinct()
        .collect()
    }
    assert len(got) > 0
    assert got == want

    # the stream's S0 rows are the batch pipeline's S0 rows on the same
    # pages (same ids, titles and NFKD normalization)
    from deezymatch_spark.pipeline import er_stages

    q = (
        streaming_pages_normalize(stream).writeStream.format("memory")
        .queryName("ss_s0").outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    cols = ["id", "url", "title", "title_norm"]
    streamed = sorted(spark.sql("select * from ss_s0").select(cols).collect())
    batch_s0 = er_stages(spark.read.parquet(src), spark=spark)["docs"]
    assert streamed == sorted(batch_s0.select(cols).collect())
    assert len(streamed) == 600


def test_streaming_window_matches_hot_key_filter(spark, tmp_path):
    """A static hot-key blocklist removes those keys from BOTH sides
    before the join — pairs reachable only through a listed key vanish."""
    from deezymatch_spark.streaming import streaming_window_matches
    from deezymatch_spark.streaming.ops import streaming_pages_normalize

    src = str(tmp_path / "pages_hk")
    pages = generate_pages(spark, 200, with_truth=False)
    pages.write.parquet(src)

    def run(hot):
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        out = streaming_window_matches(
            streaming_pages_normalize(stream),
            horizon="10 minutes", watermark="30 minutes",
            hot_keys=hot,
        )
        name = f"hk_{0 if hot is None else 1}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        return {(r.id1, r.id2) for r in spark.sql(f"select * from {name}").collect()}

    base = run(None)
    # blocklist EVERY w: key -> only gram keys remain; must be a subset
    docs = streaming_pages_normalize(spark.read.parquet(src))
    from deezymatch_spark.operators.blocking import blocking_keys

    wkeys = (
        blocking_keys(docs, "id", "title_norm", use_minhash=False)
        .where(F.col("block_key").startswith("w:"))
        .select("block_key").distinct()
    )
    filtered = run(wkeys)
    assert filtered <= base

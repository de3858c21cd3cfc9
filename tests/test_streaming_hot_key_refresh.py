"""Managed hot-key blocklist refresh (jobs/streaming_matches.py
--refresh-hot-keys-every): a key that becomes hot mid-stream is capped
after the next refresh+restart, while matches emitted before it are
preserved by the exactly-once sink. Exercises refresh_hot_keys /
load_hot_keys directly with the same restart shape as the job's loop
(two availableNow runs against one checkpoint)."""

import datetime

from pyspark.sql import functions as F


def _pages(spark, rows):
    """rows: [(url, minutes, title)] → input_hint-schema pages frame."""
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    data = [
        (
            url,
            t0 + datetime.timedelta(minutes=m),
            f"<html><head><title>{title}</title></head><body>x</body></html>".encode(),
            title,
            "en",
        )
        for url, m, title in rows
    ]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def _run_once(spark, feed, out, ckpt, hot):
    from deezymatch_spark.streaming import streaming_window_matches
    from deezymatch_spark.streaming.ops import streaming_pages_normalize

    stream = spark.readStream.schema(spark.read.parquet(feed).schema).parquet(feed)
    matches = streaming_window_matches(
        streaming_pages_normalize(stream),
        horizon="30 minutes", watermark="1 hour", hot_keys=hot,
    )
    q = (
        matches.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_refresh_caps_newly_hot_key_and_preserves_prior_matches(spark, tmp_path):
    from deezymatch_spark.streaming.ops import load_hot_keys, refresh_hot_keys

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    bl = str(tmp_path / "blocklist")

    # phase 1: one near-dup pair + an unrelated page; nothing hot yet
    _pages(spark, [
        ("u://a1", 0, "alpha station one"),
        ("u://a2", 2, "alpha station one!"),
        ("u://z", 4, "completely different thing"),
    ]).write.mode("append").parquet(feed)

    assert load_hot_keys(spark, bl) is None  # nothing published yet
    _run_once(spark, feed, out, ckpt, load_hot_keys(spark, bl))
    phase1 = {(r.id1, r.id2) for r in spark.read.parquet(out).collect()}
    assert len(phase1) == 1  # the a1–a2 match

    # refresh before anything is hot: blocklist publishes but is empty
    refresh_hot_keys(spark, feed, bl, max_block_size=3)
    hot0 = load_hot_keys(spark, bl)
    assert hot0 is not None and hot0.count() == 0

    # phase 2: the 'alpha station one' title floods in — every one of
    # its blocking keys now has > 3 members, i.e. the key became hot
    # MID-STREAM, after the first micro-batch ran
    _pages(spark, [
        (f"u://b{i}", 6 + i, "alpha station one") for i in range(8)
    ]).write.mode("append").parquet(feed)

    snap = refresh_hot_keys(spark, feed, bl, max_block_size=3)
    hot1 = load_hot_keys(spark, bl)
    assert hot1.count() > 0 and snap.endswith("v_2")
    # every key of the flooded title is listed (title identical across
    # 10 pages -> all its gram/word keys have 10 > 3 members)
    from deezymatch_spark.operators.blocking import blocking_keys
    from deezymatch_spark.streaming.ops import streaming_pages_normalize

    flood = streaming_pages_normalize(
        spark.read.parquet(feed).where(F.col("url").startswith("u://b"))
    )
    flood_keys = {
        r.block_key
        for r in blocking_keys(flood, "id", "title_norm", use_minhash=False)
        .select("block_key")
        .distinct().collect()
    }
    listed = {r.block_key for r in hot1.collect()}
    assert flood_keys <= listed

    # restart from the same checkpoint with the refreshed blocklist:
    # the flood pairs are capped away, phase-1 matches are preserved
    _run_once(spark, feed, out, ckpt, hot1)
    after = {(r.id1, r.id2) for r in spark.read.parquet(out).collect()}
    assert phase1 <= after            # exactly-once sink kept prior rows
    assert after == phase1            # no new (all-hot) flood matches emitted

    # counter-factual: without the refresh (stale empty blocklist) the
    # flood WOULD have matched — proving the refresh is what capped it
    out2, ckpt2 = str(tmp_path / "m2"), str(tmp_path / "c2")
    _run_once(spark, feed, out2, ckpt2, hot0)
    stale = {(r.id1, r.id2) for r in spark.read.parquet(out2).collect()}
    assert len(stale) > len(phase1)


def test_refresh_after_lost_pointer_keeps_old_snapshot(spark, tmp_path):
    """A kill between the pointer's delete and rename leaves no
    ``_CURRENT``. The next refresh must still publish a NEW version,
    not overwrite ``v_1`` that an in-flight reader may hold."""
    import os

    from deezymatch_spark.streaming.ops import refresh_hot_keys

    feed = str(tmp_path / "feed")
    bl = str(tmp_path / "blocklist")
    _pages(spark, [
        (f"u://h{i}", i, "alpha station one") for i in range(5)
    ]).write.mode("append").parquet(feed)

    v1 = refresh_hot_keys(spark, feed, bl, max_block_size=3)
    assert v1.endswith("/v_1")

    def snapshot(path):
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        return files, sorted(tuple(r) for r in spark.read.parquet(path).collect())

    before = snapshot(v1)
    assert before[1]  # the flooded title's keys are over the cap
    os.remove(os.path.join(bl, "_CURRENT"))

    v2 = refresh_hot_keys(spark, feed, bl, max_block_size=3)
    assert v2.endswith("/v_2")
    assert snapshot(v1) == before  # v_1 untouched, same files and rows
    with open(os.path.join(bl, "_CURRENT")) as f:
        assert f.read().strip() == v2

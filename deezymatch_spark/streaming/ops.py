"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.9); these cover the
continuous-ingest half of a web-scale pipeline: a WARC-crawl stream of
pages flowing through the same extract/normalize/blocking expressions
(stateless — identical code paths as batch, Spark's unified API), plus
watermarked windowed aggregation for the events/metrics stream, and a
foreachBatch incremental-match stage that reuses the batch ER scorer
against a static candidate table with exactly-once checkpointing.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..functions.textstats import doc_fingerprint
from ..functions.udfs import jaro_winkler_udf
from ..operators.blocking import (
    _gated_pairs,
    _hash_block_keys,
    _key_rows,
    blocking_keys,
    cap_blocks,
    over_cap_block_keys,
)

__all__ = [
    "load_hot_keys",
    "refresh_hot_keys",
    "streaming_pages_normalize",
    "windowed_event_counts",
    "streaming_entity_matches",
    "streaming_exact_dedup",
    "streaming_session_stats",
    "streaming_user_sessions",
    "streaming_window_matches",
    "release_query_caches",
]


def release_query_caches(query) -> None:
    """Unpersist the static-side caches a streaming operator pinned
    (currently: ``streaming_entity_matches``'s capped candidate-key
    table). Call after ``query.stop()``/``awaitTermination()`` —
    without it, repeated invocations in one session leak cached
    blocks. No-op for queries without attached caches."""
    handle = getattr(query, "_dzm_persisted", None)
    if handle is not None:
        handle.unpersist()
        query._dzm_persisted = None


def streaming_exact_dedup(
    docs_stream: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup on a document stream with BOUNDED state — the
    ingest-side companion of the batch ``exact_dedup`` operator: keep
    the first row per content fingerprint, where "duplicate" means a
    row with the same fingerprint arriving within the watermark
    horizon of the kept row.

    ``dropDuplicatesWithinWatermark`` (vs plain ``dropDuplicates``) is
    what makes this run forever: state for a fingerprint is evicted
    once the watermark passes it, so state size is bounded by the
    duplicate-arrival horizon instead of growing with the corpus. A
    crawl re-fetching a page days later re-admits it — downstream
    batch dedup (jobs/corpus_dedup.py) is the corpus-wide pass; this
    operator exists to cheaply drop the torrent of same-hour
    duplicates (mirror sites, re-crawls) before expensive stages.

    → streaming DataFrame of surviving rows + ``fingerprint``.
    """
    s = docs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    s = s.withColumn("fingerprint", doc_fingerprint(F.col(text_col)))
    return s.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def streaming_pages_normalize(pages_stream: DataFrame) -> DataFrame:
    """Stateless extract + NFKD-normalize on a pages stream — the exact
    batch S0 (``pipeline._s0_docs``) plus ``warc_ts``; works unchanged
    on a streaming DataFrame."""
    from ..pipeline import _s0_docs

    return _s0_docs(pages_stream, "url", "warc_ts")


def refresh_hot_keys(
    spark,
    input_path: str,
    blocklist_dir: str,
    *,
    max_block_size: int,
    ngram: int = 3,
    use_minhash: bool = False,
    slice_hours: float | None = None,
) -> str:
    """Recount blocking keys over the (batch-readable) crawl feed and
    atomically publish a fresh over-cap blocklist snapshot — the batch
    half of the stream's hot-key cap (``streaming_window_matches``
    docstring: global key counts need a batch aggregation).

    Writes ``<blocklist_dir>/v_<n>`` (parquet, [block_key, n_ids] via
    ``over_cap_block_keys``; ``n`` is one past the highest snapshot on
    disk) fully, THEN swaps the ``_CURRENT`` pointer
    with the pipeline's crash-safe tmp+rename pattern
    (``pipeline._write_text_atomic``) — a kill mid-refresh leaves the
    previous snapshot live, never a torn read. Old snapshots are kept
    (tiny by construction) so an in-flight reader holding the previous
    pointer stays valid.

    ``slice_hours``: only count pages whose ``warc_ts`` falls within
    that many hours of the feed's max — a partition-prunable pushdown
    filter, so the recount touches a bounded recent slice instead of
    the whole history (the right call on an ever-growing 100-TB feed;
    key frequencies are what's hot NOW, not in 2019).

    Returns the published snapshot path."""
    from ..pipeline import _fs_path, _write_text_atomic

    pages = spark.read.parquet(input_path)
    if slice_hours is not None:
        hi = pages.agg(F.max(F.col("warc_ts").cast("timestamp")).alias("m")).first()["m"]
        if hi is not None:
            pages = pages.where(
                F.col("warc_ts").cast("timestamp")
                >= F.lit(hi) - F.expr(f"interval {float(slice_hours)} hours")
            )
    docs = streaming_pages_normalize(pages)  # stateless projections: batch-safe
    keys = blocking_keys(docs, "id", "title_norm", ngram=ngram, use_minhash=use_minhash)
    root = blocklist_dir.rstrip("/")
    # the next version comes from the snapshots on disk, not from
    # _CURRENT: a kill between the pointer's delete and rename leaves
    # no pointer, and restarting at v_1 would overwrite a live snapshot
    fs, hdir = _fs_path(spark, root)
    names = [st.getPath().getName() for st in fs.listStatus(hdir)] if fs.exists(hdir) else []
    version = max((int(n[2:]) for n in names if re.fullmatch(r"v_\d+", n)), default=0) + 1
    snap = f"{root}/v_{version}"
    over_cap_block_keys(keys, max_block_size).write.mode("overwrite").parquet(snap)
    _write_text_atomic(spark, f"{root}/_CURRENT", snap)
    return snap


def load_hot_keys(spark, blocklist_dir: str) -> DataFrame | None:
    """Resolve the ``_CURRENT`` pointer written by ``refresh_hot_keys``
    and load that snapshot (None when no refresh has published yet —
    callers treat missing as an empty blocklist)."""
    from ..pipeline import _read_text

    try:
        snap = _read_text(spark, blocklist_dir.rstrip("/") + "/_CURRENT").strip()
    except Exception:
        return None
    return spark.read.parquet(snap)


def windowed_event_counts(
    events_stream: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type —
    late rows beyond the watermark are dropped, state is bounded."""
    w = F.window(F.col(ts_col), window, slide) if slide else F.window(
        F.col(ts_col), window
    )
    # watermarks require TIMESTAMP (with timezone); parquet NTZ upcast
    events_stream = events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def streaming_session_stats(
    events_stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    *,
    gap_seconds: float = 1800.0,
    watermark: str = "2 hours",
    value_col: str | None = None,
    type_col: str | None = None,
) -> DataFrame:
    """Per-session rollups on an event stream — the batch
    ``operators.sessions.session_stats`` expression UNCHANGED on a
    watermarked stream (``F.session_window`` is the unified
    batch/streaming built-in; that symmetry is the point). In append
    mode a session emits once the watermark passes its close; state is
    bounded by the number of OPEN sessions, evicted on emit."""
    from ..operators.sessions import session_stats

    s = events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return session_stats(
        s.withWatermark(ts_col, watermark),
        user_col,
        ts_col,
        gap_seconds=gap_seconds,
        value_col=value_col,
        type_col=type_col,
    )


def streaming_user_sessions(
    events_stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    *,
    gap_seconds: float = 1800.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` —
    the escape hatch for per-session statistics the built-in
    ``session_window`` aggregation CANNOT express because they depend
    on event ORDER within the session. Emitted here: ``max_gap_us``,
    the largest inter-event silence inside the session (the classic
    engagement/bot signal) — not a commutative aggregate, so no
    ``groupBy(session_window).agg(...)`` can compute it.

    One state row per (user, open session): ``(start_us, last_us,
    n_events, max_gap_us)``, all exact integer microseconds. A session
    closes and emits either when a later event arrives past the gap
    (``closed_by='gap'``) or when the event-time watermark passes
    ``last_ts + gap`` with no successor (``closed_by='timeout'``,
    which also evicts the state row — state is bounded by open
    sessions, exactly like the built-in).

    Ordering contract: rows are folded in timestamp order WITHIN each
    micro-batch; a cross-batch late row inside the open session merges
    without re-splitting it (a non-positive gap is never sampled), one
    EARLIER than the open session's start extends the start backwards
    (gap-sampled against the old start), and one more than the gap
    before the start emits immediately as its own single-event session
    (``closed_by='late'``). Heavily reordered streams that need exact
    session re-splitting should use :func:`streaming_session_stats` —
    this operator exists for the order-dependent statistic.

    Timezone safety: all state/timeout arithmetic runs on TRUE epoch
    microseconds computed JVM-side (``unix_micros``), never on the
    session-timezone wall-clock timestamps Arrow hands to pandas —
    ``setTimeoutTimestamp``/``getCurrentWatermarkMs`` are epoch-based,
    so wall-clock math would shift every timeout by the tz offset.
    Emitted timestamps are built tz-aware (UTC) so Spark stores the
    exact instants under any ``spark.sql.session.timeZone``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..operators.sessions import _gap_us

    gap_us = _gap_us(gap_seconds)
    if "_us" in events_stream.columns:
        raise ValueError(
            "streaming_user_sessions: input already has a '_us' column "
            "— the epoch-micros helper would collide with it; rename it"
        )
    s = events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    s = s.withWatermark(ts_col, watermark)
    s = s.withColumn("_us", F.unix_micros(F.col(ts_col)))
    user_field = s.schema[user_col]
    out_schema = StructType(
        [
            StructField(user_col, user_field.dataType),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("max_gap_us", LongType()),
            StructField("closed_by", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n_events", LongType()),
            StructField("max_gap_us", LongType()),
        ]
    )

    def fn(key, pdfs, state):
        import pandas as pd

        user = key[0]

        def emit(rows):
            return pd.DataFrame(
                {
                    user_col: [r[0] for r in rows],
                    "session_start": [
                        pd.Timestamp(r[1], unit="us", tz="UTC") for r in rows
                    ],
                    "session_end": [
                        pd.Timestamp(r[2], unit="us", tz="UTC") for r in rows
                    ],
                    "n_events": [r[3] for r in rows],
                    "max_gap_us": [r[4] for r in rows],
                    "closed_by": [r[5] for r in rows],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, mx = state.get
            state.remove()
            yield emit([(user, start_us, last_us, n, mx, "timeout")])
            return

        start_us = last_us = None
        n = mx = 0
        if state.exists:
            start_us, last_us, n, mx = state.get
        us_all = []
        for pdf in pdfs:
            us_all.append(pdf["_us"].to_numpy())
        closed = []
        # plain ints: GroupState JSON-serializes the state tuple and
        # numpy int64 is not JSON serializable
        for t in sorted(int(x) for arr in us_all for x in arr):
            if start_us is None:
                start_us, last_us, n, mx = t, t, 1, 0
            elif t - last_us > gap_us:
                closed.append((user, start_us, last_us, n, mx, "gap"))
                start_us, last_us, n, mx = t, t, 1, 0
            elif t < start_us:
                # cross-batch late row BEFORE the open session's start
                if start_us - t > gap_us:
                    closed.append((user, t, t, 1, 0, "late"))
                else:
                    mx = max(mx, start_us - t)
                    start_us, n = t, n + 1
            else:
                # late (t <= last_us) in-session rows merge without a
                # gap sample
                mx = max(mx, t - last_us) if t > last_us else mx
                last_us = max(last_us, t)
                n += 1
        if start_us is not None:
            state.update((start_us, last_us, n, mx))
            # epoch ms, ceiling so the timeout can never fire before
            # last + gap (an event at EXACTLY the gap must still merge);
            # never at/behind the watermark (API contract)
            state.setTimeoutTimestamp(
                max(
                    (last_us + gap_us + 999) // 1_000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        if closed:
            yield emit(closed)

    return s.groupBy(user_col).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_window_matches(
    docs_stream: DataFrame,
    *,
    ts_col: str = "warc_ts",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    lev_max: int = 2,
    ngram: int = 3,
    use_minhash: bool = False,
    hot_keys: DataFrame | None = None,
    dedup_pairs: bool = True,
) -> DataFrame:
    """Within-horizon ER self-matching as a STREAM-STREAM join: every
    pair of pages arriving within ``horizon`` of each other that shares
    a blocking key and passes the Levenshtein gate. The continuous twin
    of the batch pair stage for the freshness question batch can't
    answer — "is this page a near-duplicate of anything else in the
    current crawl window?" — with state Spark evicts by watermark
    instead of a corpus-sized index.

    ``docs_stream`` needs (id, title_norm, ``ts_col``) — i.e.
    ``streaming_pages_normalize`` output. Shape:

    - blocking keys are the SAME pure-projection families as batch
      (``blocking_keys`` — exploded expressions, stateless, identical
      code path), int64-hashed, with the normalized title riding each
      key row as payload (a stream cannot join strings back later);
    - both join sides carry a ``withWatermark`` and the join condition
      bounds each side's event time against the other
      (|Δts| <= horizon), which is exactly what lets Spark drop
      buffered rows once the watermark passes — state is
      O(rows per horizon × keys per row), independent of corpus size;
    - the length gate and the threshold Levenshtein
      (``levenshtein(t1, t2, lev_max)``, early-exit codegen) are fused
      into the join condition, so non-candidates never reach the
      emitted stream;
    - hot-key capping needs GLOBAL key counts, which a stream cannot
      aggregate without another stateful pass — so the cap arrives as
      a static ``hot_keys`` frame (one ``block_key`` string column:
      build it with ``operators.blocking.over_cap_block_keys`` over
      the blocking keys of a recent batch slice — one row per over-cap
      key; ``blocking_preflight`` is the per-FAMILY rollup, not this),
      broadcast-anti-joined before hashing. The batch pipeline's cap
      is adaptive; the stream's is pinned until refreshed —
      ``jobs/streaming_matches.py --refresh-hot-keys-every`` automates
      the recount → atomic blocklist swap → query restart loop, with a
      staleness window of one refresh period;
    - a pair sharing several keys would emit once per key:
      ``dedup_pairs=True`` chains ``dropDuplicatesWithinWatermark`` on
      (id1, id2) — dedup state is evicted on the same watermark. A
      pair re-co-occurring AFTER the watermark horizon re-emits (it is
      a new co-occurrence event — by design).

    → streaming DataFrame [id1, id2, ts1, ts2, lev] (append mode;
    inner stream-stream joins emit on match, no watermark wait)."""
    docs = docs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    # ride (id, ts) through blocking_keys as a struct id — key rows
    # need the timestamp and a stream cannot join it back afterwards
    tagged = docs.select(
        F.struct(F.col("id"), F.col(ts_col).alias("ts")).alias("_sid"),
        "title_norm",
    )
    keys = blocking_keys(
        tagged, "_sid", "title_norm",
        ngram=ngram, use_minhash=use_minhash, payload=True,
    )
    if hot_keys is not None:
        keys = keys.join(
            F.broadcast(hot_keys.select("block_key")), "block_key", "left_anti"
        )
    keys = _hash_block_keys(keys)

    def side(n: int) -> DataFrame:
        return keys.select(
            F.col("block_key"),
            F.col("id.id").alias(f"id{n}"),
            F.col("id.ts").alias(f"ts{n}"),
            F.col("_k").alias(f"t{n}"),
        ).withWatermark(f"ts{n}", watermark)

    a, b = side(1), side(2)
    iv = f"interval {horizon}"
    lev = F.levenshtein(F.col("t1"), F.col("t2"), lev_max)
    pairs = a.join(
        b,
        (a["block_key"] == b["block_key"])
        & (F.col("id1") < F.col("id2"))
        & (F.col("ts2") >= F.expr(f"ts1 - {iv}"))
        & (F.col("ts2") <= F.expr(f"ts1 + {iv}"))
        & (F.length("t1") - F.length("t2") <= lev_max)
        & (F.length("t2") - F.length("t1") <= lev_max)
        & (lev >= 0),
    ).select(
        "id1", "id2", "ts1",
        # demote ts2 from event-time to plain data: the join output
        # carries BOTH sides' watermark tags, and a downstream stateful
        # op (the pair dedup) requires exactly one event-time column.
        # An arithmetic alias strips the attribute's watermark metadata
        # (a bare rename would keep it); ts1 stays the event time.
        F.expr("ts2 + interval 0 seconds").alias("ts2"),
        lev.alias("lev"),
    )
    if dedup_pairs:
        pairs = pairs.dropDuplicatesWithinWatermark(["id1", "id2"])
    return pairs


def streaming_entity_matches(
    pages_stream: DataFrame,
    candidates: DataFrame,
    *,
    jw_threshold: float = 0.82,
    lev_max: int = 2,
    max_block_size: int = 100,
    use_minhash: bool = False,
    checkpoint_dir: str,
    output_dir: str,
):
    """Continuously match incoming pages against a static candidate
    table (id, title_norm): per micro-batch (``foreachBatch``), the
    fused blocking + scoring join of ``scored_candidate_pairs`` (its
    ``_key_rows`` and ``_gated_pairs``) in ``_pair_join``'s two-table
    mode (key rows carry the titles, so nothing joins back), then the
    JW gate, writing
    ``[cand_id, id, title_norm, cand_title, lev, jw]`` to Parquet
    partitioned by ``batch_id`` with DYNAMIC partition overwrite —
    foreachBatch alone is only at-least-once (a batch retried after a
    partial append but before the checkpoint commit would duplicate
    rows); overwriting exactly the retried batch's partition makes the
    sink idempotent, so end-to-end the output is effectively
    exactly-once.

    → StreamingQuery (caller awaits/stops it). The capped candidate-key
    table stays persisted for the query's lifetime; call
    :func:`release_query_caches` on the returned query after stopping
    it, or the cache outlives the query."""
    # same key-family default as the batch pipeline: m: bands off for
    # short-title matching (see er_stages docstring for the measurement).
    # The hot-key cap is applied ONCE on the static candidate side (a
    # key hot among candidates is non-discriminative; stream keys in a
    # dropped block then simply find no match — same semantics as the
    # batch cap), by ``cap_blocks``; keys are int64-hashed (never
    # emitted), carry the title, and the capped static side is
    # persisted so micro-batches don't rebuild it.
    def keys(df: DataFrame) -> DataFrame:
        return _key_rows(df, "id", "title_norm", use_minhash=use_minhash)

    cand_keys = cap_blocks(keys(candidates), max_block_size).persist()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = (
            _gated_pairs(keys(batch_df), cand_keys, lev_max=lev_max)
            .withColumn("jw", jaro_winkler_udf(F.col("t1"), F.col("t2")))
            .where(F.col("jw") >= jw_threshold)
            .select(
                F.col("id2").alias("cand_id"), F.col("id1").alias("id"),
                F.col("t1").alias("title_norm"), F.col("t2").alias("cand_title"),
                "lev", "jw", F.lit(batch_id).alias("batch_id"),
            )
        )
        # idempotent on retry: dynamic overwrite replaces ONLY the
        # partitions present in this batch (batch_id=<id>), never the
        # other batches' output
        (
            scored.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    query = (
        streaming_pages_normalize(pages_stream)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query._dzm_persisted = cand_keys  # released by release_query_caches
    return query

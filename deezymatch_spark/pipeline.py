"""End-to-end entity-resolution pipeline (SURVEY.md §7 target
architecture) — the engine's flagship job, per BASELINE.json
north_rule:

    pages(url, warc_ts, html, text, lang)
      S0 extract + NFKD-normalize titles           [byte-identical gate]
      S1 blocking: char-ngram + MinHash/LSH keys, hot-key cap
      S2 pair scoring: vectorized JW/Lev (+ optional GRU siamese p1)
      S3 match filter (threshold)
      S4 cluster formation: connected components (or center/star)
      S5 assignment: every doc gets its cluster's entity id

Every stage is a pure DataFrame -> DataFrame function, and every stage
output passes through ONE boundary, :func:`_materialize`, which cuts
the lineage so downstream branches read the stage's rows instead of
re-running its plan (the S0 Python UDF, the JW Arrow UDF):

- with ``work_dir``, each stage is written as Parquet plus
  per-partition lineage metrics ``(partition_id, rows, ts)`` as the
  ``stage=<name>`` partition of ``<work_dir>/metrics``; a killed job
  re-run with the same work_dir resumes from the last completed stage
  (checkpoint/lineage requirement of the north rule; stands in for
  Iceberg tables, which need a runtime jar the engine does not bundle —
  the write pattern is identical). The metrics write is fenced by a
  per-stage marker and uses dynamic partition overwrite, so a kill
  between a stage's _SUCCESS and its metrics commit heals on resume
  and a re-executed stage replaces its lineage rows instead of
  appending duplicates (see :func:`_write_stage`);
- without one, each stage is an eager ``localCheckpoint`` in executor
  storage, freed when the returned frames are garbage-collected —
  callers hold no cache handles and release nothing.

The reference has no pipeline like this (it is a single-process library,
DeezyMatch/candidateRanker.py:355-578 scores exhaustively); the staging,
blocking, hot-key cap and CC come from the north_rule spec + published
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond").
"""

from __future__ import annotations

import os
import time

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.udfs import jaro_winkler_udf, normalize_udf
from .operators.blocking import candidate_pairs, scored_candidate_pairs
from .operators.cc import connected_components
from .operators.incremental import remove_nodes, update_clusters
from .sources.pages import extract_anchor_texts, extract_title, generate_pages

__all__ = ["run_er_pipeline", "er_stages", "incremental_er", "stage_metrics"]


def stage_metrics(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage row set for the metrics table (A6)."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .select(
            F.lit(stage).alias("stage"),
            "partition_id",
            "rows",
            F.lit(int(time.time())).alias("ts"),
        )
    )


def _stage_path(work_dir: str, name: str) -> str:
    return os.path.join(work_dir, f"stage_{name}")


def _is_done(spark: SparkSession, path: str) -> bool:
    """_SUCCESS probe via the Hadoop FileSystem API so resume works on
    s3a://, hdfs://, etc. — a plain os.path.exists silently never
    matches on object stores and every stage would recompute."""
    return _marker_exists(spark, os.path.join(path, "_SUCCESS"))


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _touch_marker(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (Hadoop FS, so it works on object
    stores like the _SUCCESS probe)."""
    fs, hpath = _fs_path(spark, path)
    fs.create(hpath, True).close()


def _marker_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs_path(spark, path)
    return bool(fs.exists(hpath))


def _drop_marker(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs_path(spark, path)
    fs.delete(hpath, False)


def _read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file through the Hadoop FS API (works on
    s3a://, hdfs:// like the _SUCCESS probes; NOT sc.textFile, which
    treats leading-underscore files as hidden and refuses the path)."""
    jvm = spark._jvm
    fs, hpath = _fs_path(spark, path)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(fs.open(hpath), baos, 4096, True)
    return bytes(baos.toByteArray()).decode("utf-8")


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FS API (creates
    parents, overwrites). Driver-side config/metrics sidecars only —
    data goes through DataFrame writers."""
    fs, hpath = _fs_path(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Crash-safe sidecar rewrite: write ``<path>.tmp`` fully, delete
    the old file, rename the tmp in. A kill mid-write leaves the OLD
    contents intact; a kill between delete and rename leaves the file
    absent (callers treat missing as empty) — never truncated JSON
    that bricks every later read. Hadoop rename won't clobber, hence
    the explicit delete."""
    fs, hpath = _fs_path(spark, path)
    _, tmp = _fs_path(spark, path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fs.delete(hpath, False)
    fs.rename(tmp, hpath)


def _write_stage(spark: SparkSession, d, work_dir: str, path: str, name: str) -> DataFrame:
    """Idempotently materialize one stage: Parquet at ``path`` plus its
    per-partition lineage rows as the ``stage=<name>`` partition of
    ``<work_dir>/metrics``. ``d`` is a DataFrame or a thunk (invoked
    only when the stage actually executes, so driver-side model fits
    inside thunks are skipped on resume).

    The metrics write is NOT atomic with the stage commit, so it is
    fenced by a per-stage marker: a kill between the stage's _SUCCESS
    and the metrics commit leaves the marker absent and the resume
    rewrites the lineage rows from the stage parquet; a re-executed
    stage (its marker dropped before the rewrite) REPLACES its
    ``stage=`` partition via dynamic partition overwrite instead of
    appending duplicate rows — lineage audits never read double
    counts.
    """
    mmark = os.path.join(work_dir, "_metrics_done", name)
    metrics_dir = os.path.join(work_dir, "metrics")
    if not _is_done(spark, path):
        # the stage (re)executes: its old lineage rows are stale
        _drop_marker(spark, mmark)
        d = d() if callable(d) else d
        d.write.mode("overwrite").parquet(path)
    if not _marker_exists(spark, mmark):
        (
            stage_metrics(spark.read.parquet(path), name)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("stage")
            .parquet(metrics_dir)
        )
        _touch_marker(spark, mmark)
    return spark.read.parquet(path)


def _materialize(
    spark: SparkSession, df: DataFrame, work_dir: str | None, name: str
) -> DataFrame:
    """The one stage boundary: run the stage once and cut its lineage.
    With ``work_dir``: Parquet + lineage metrics, read back (resumable,
    :func:`_write_stage`). Without: an eager ``localCheckpoint``."""
    if work_dir is None:
        return df.localCheckpoint()
    return _write_stage(spark, df, work_dir, _stage_path(work_dir, name), name)


def _s0_docs(pages: DataFrame, *keep: str, anchors: bool = False) -> DataFrame:
    """S0 — extract + NFKD-normalize: pages → [id, *keep, title,
    (anchors,) title_norm] with ``id = xxhash64(url)``. The html is
    pruned right after the regexp extract; ``keep`` names pass-through
    page columns. The one S0 builder, shared by er_stages,
    preflight_report, incremental_er's delta ingest and
    streaming.ops.streaming_pages_normalize, so every path keys the
    same ids and normalizes the same titles."""
    cols = [
        F.xxhash64("url").alias("id"),
        *keep,
        extract_title(F.col("html")).alias("title"),
    ]
    if anchors:
        cols.append(
            F.array_distinct(extract_anchor_texts(F.col("html"))).alias("anchors")
        )
    return pages.select(*cols).withColumn("title_norm", normalize_udf(F.col("title")))


def _anchor_key_rows(docs: DataFrame) -> DataFrame:
    """``a:<normalized anchor text>`` key rows [id, block_key, _k] from
    a docs frame carrying an ``anchors`` array column (payload ``_k`` =
    the page's OWN normalized title, so fused-join gates compare
    titles). Shared by er_stages and preflight_report so the pre-flight
    estimate prices exactly the keys the pipeline will join."""
    return (
        docs.select("id", F.explode("anchors").alias("_a"), "title_norm")
        .withColumn("_a", normalize_udf(F.col("_a")))
        .where(F.length("_a") > 0)
        .select(
            "id",
            F.concat(F.lit("a:"), F.col("_a")).alias("block_key"),
            F.col("title_norm").alias("_k"),
        )
    )


def preflight_report(
    pages: DataFrame,
    *,
    ngram: int = 3,
    max_block_size: int = 100,
    cap_mode: str = "drop",
    use_minhash: bool = False,
    use_anchors: bool = False,
    use_phonetic: bool = False,
) -> DataFrame:
    """Pre-flight cost report for run_er_pipeline's EXACT blocking plan
    → blocking_preflight's per-family + TOTAL rollup
    (family, n_blocks, n_key_rows, max_block, est_pairs,
    over_cap_blocks, est_pairs_capped).

    Builds the same S0 extract and the same key families (grams, words,
    optional m:/a:/p:) the pipeline would join, then prices the join
    with ONE map-combined aggregation instead of running it —
    ``est_pairs_capped`` on the TOTAL row is the number of comparisons
    the fused block+score join will feed its gates at this
    ``max_block_size``, and ``over_cap_blocks`` per family shows what
    the hot-key cap discards. At 100 TB this is the step that chooses
    ``max_block_size`` and ``spark.sql.shuffle.partitions`` before
    paying for the join (jobs/er_pipeline.py --preflight)."""
    from .operators.blocking import blocking_keys, blocking_preflight

    docs = _s0_docs(pages, anchors=use_anchors)
    keys = blocking_keys(
        docs, "id", "title_norm", ngram=ngram, use_minhash=use_minhash,
        use_phonetic=use_phonetic,
    ).select("id", "block_key")
    if use_anchors:
        keys = keys.unionByName(_anchor_key_rows(docs).select("id", "block_key"))
    return blocking_preflight(keys, max_block_size=max_block_size, cap_mode=cap_mode)


def exact_recall_audit(
    docs: DataFrame,
    cand_pairs: DataFrame,
    *,
    lev_max: int = 2,
    id_col: str = "id",
    text_col: str = "title_norm",
    gram: int = 4,
    sample_fraction: float = 1.0,
    sample_salt: str = "recall_audit",
) -> DataFrame:
    """TRUE blocking recall, not an estimate against a heuristic gold:
    the gold pair set is every title pair within Levenshtein
    ``lev_max``, built by the recall-COMPLETE
    ``operators.edjoin.edit_distance_join`` (complete by the
    padded-q-gram prefix theorem), so the returned
    ``pair_completeness_micro`` is exactly the fraction of true
    lev<=k pairs the blocking scheme kept — the number
    ``scored_candidate_pairs``'s key families are tuned against
    (its docstring's "recall 0.9998" claims are measured this way,
    previously only in pytest).

    → ``blocking_quality``'s 1-row trio (completeness / quality /
    reduction ratio as exact micro-ints) over ``cand_pairs`` vs the
    edjoin gold.

    ``sample_fraction`` < 1 audits a deterministic ``hash_sample`` of
    the corpus instead (both gold and candidates restricted to
    sampled ids): at 10^12 docs the exact join over ALL titles is
    itself a real job, while recall measured on a hash-stable 0.1%
    slice is an unbiased estimate that re-runs identically — the same
    retry-stable sampling contract as the corpus job's ``--sample``.
    """
    from .operators.edjoin import edit_distance_join
    from .operators.metrics import blocking_quality
    from .operators.sampling import hash_sample

    d = docs.select(id_col, text_col)
    cand = cand_pairs
    if not 0.0 < sample_fraction <= 1.0:
        raise ValueError("sample_fraction must be in (0, 1]")
    if sample_fraction < 1.0:
        d = hash_sample(d, id_col, sample_fraction, salt=sample_salt)
        ids = d.select(F.col(id_col).alias("_aid"))
        cand = (
            cand.join(ids, cand.id1 == F.col("_aid"), "left_semi")
            .join(ids, cand.id2 == F.col("_aid"), "left_semi")
        )
    gold = edit_distance_join(
        d, id_col, text_col, k=lev_max, gram=gram
    ).select("id1", "id2")
    return blocking_quality(cand.select("id1", "id2"), gold, d.count())


def er_stages(
    pages: DataFrame,
    *,
    jw_threshold: float = 0.82,
    lev_max: int = 2,
    max_block_size: int = 100,
    cap_mode: str = "drop",
    ngram: int = 3,
    pair_scorer=None,
    conf_threshold: float = 0.5,
    use_minhash: bool = False,
    use_anchors: bool = False,
    use_phonetic: bool = False,
    scorer: str = "jw",
    fs_threshold_bits: float = 2.0,
    fs_fit_fraction: float = 1.0,
    clustering: str = "cc",
    spark: SparkSession | None = None,
    work_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Run every stage through the one stage boundary
    (:func:`_materialize`: parquet + lineage under ``work_dir``, an
    eager ``localCheckpoint`` without one) and return each stage's
    DataFrame keyed by name: ``docs`` (S0), ``scored`` (S2),
    ``matches`` (S3), ``components`` (S4), ``clusters`` (S5), plus the
    lazy eval-only ``pairs`` (the unfused blocked-pair universe over
    the same key families). Every returned frame reads a checkpoint,
    so no Python UDF re-runs downstream and there is nothing to
    release. ``pages`` needs the input_hint 5 columns.

    ``use_minhash``: add the MinHash-band key family to the blocking.
    OFF by default for this pipeline — measured at 200k pages
    (same-session A/B, best-of-2): the m: bands add ~7M candidate pairs
    to the fused block+score join (~20-25% pipeline wall) while
    recovering only 190 of 299,430 match pairs; blocking recall
    0.999853 without vs 0.99996 with, pairwise F1 1.0 either way —
    prefix char-grams + exact words already recall lev<=2 edits on
    short titles because an edit can corrupt at most ``lev_max`` of the
    ~10 prefix grams. Enable it for LONG-text keys (where single edits
    can wipe out shared prefix grams) or when the hot-key cap removes
    most gram keys; the dedup operators (operators/dedup.py) always use
    their own MinHash path regardless.

    ``use_anchors``: add an ``a:<normalized anchor text>`` exact-key
    family from the page's anchor inner texts (north_star: blocking on
    "normalized page titles and anchor strings"). Pure recall path —
    anchor-blocked pairs still pass the title length/Levenshtein/JW
    gates, so precision is unchanged; it recovers pairs whose SHORT
    titles share no gram/word key (a 1-edit on a 3-char title leaves
    zero common keys) but that are co-cited with the same anchor
    string. ~2 extra key rows/page; OFF by default for the synthetic
    benchmark whose titles make gram recall 0.9998+ already.

    ``use_phonetic``: add the ``p:<soundex>`` phonetic key family over
    the title's ASCII-alpha tokens (functions/phonetic.py). Pure recall
    path like anchors — phonetic-blocked pairs still pass the title
    length/Levenshtein/JW gates; it recovers sound-alike respellings
    that share no gram or word key ("smith"/"smyth": zero common
    3-grams, different word keys, lev=1). ~1 extra key row per title
    token; OFF by default for the synthetic benchmark (gram recall is
    already 0.9998+ there).

    ``cap_mode``: what happens to blocking keys over
    ``max_block_size`` — ``"drop"`` (default) removes them;
    ``"downsample"`` keeps a deterministic ``max_block_size``-member
    floor per key (operators/blocking.py:_downsample_overcap), trading
    a bounded extra pair budget for recall the drop cap provably loses
    (the r4/r5 exact-gold audits in BASELINE.md measure both sides).
    Production guidance: PLANS.md runbook.

    ``scorer``: ``"jw"`` (default) thresholds on the Jaro-Winkler
    Arrow UDF; ``"fs"`` swaps in the Fellegi-Sunter model
    (operators/fs_linkage.py): comparison vectors over the pair titles
    (full-title / first-token / length levels — all codegen), m/u fit
    UNSUPERVISED by EM over one map-combined 27-cell contingency
    (``fs_fit_fraction`` < 1 fits on a deterministic ``hash_sample`` of
    the pairs — at 10^12 docs you fit on a slice, score everything),
    match filter at ``fs_threshold_bits`` total log2(m/u) evidence.
    The fs path is **UDF-free end to end** — S2+S3 stay inside
    whole-stage codegen; it also triggers one extra pass over the
    candidate pairs at build time (the fit aggregation). The scorer
    choice is part of the work-dir identity: resuming a ``jw`` work
    dir with ``scorer="fs"`` mixes stage schemas — use a fresh dir.

    ``clustering``: S4 cluster formation over the match edges.
    ``"cc"`` (default) = transitive closure (operators/cc.py, the
    north-rule semantics); ``"center"`` / ``"star"`` = the
    diameter-bounded alternatives (operators/star.py) — every member
    is DIRECTLY adjacent to its cluster center, so one spurious match
    edge can no longer chain two real entities together (the dominant
    failure mode of closure on web-scale match graphs). Entity ids
    remain deterministic (center's id). Like ``scorer``, the choice is
    part of the work-dir identity: the s4 stage means different things
    — use a fresh dir when switching.
    """
    if scorer not in ("jw", "fs"):
        raise ValueError(f"er_stages: scorer must be 'jw' or 'fs', got {scorer!r}")
    if clustering not in ("cc", "center", "star"):
        raise ValueError(
            f"er_stages: clustering must be 'cc', 'center' or 'star', got {clustering!r}"
        )
    if not 0.0 < fs_fit_fraction <= 1.0:
        raise ValueError("er_stages: fs_fit_fraction must be in (0, 1]")
    spark = spark or pages.sparkSession

    # S0 — extract + normalize; downstream stages carry only
    # (id, url, title*[, anchors]). The checkpoint is what keeps the 6+
    # branches reading docs (key building, block sizing, both sides of
    # the scoring joins) from each re-running the NFKD UDF.
    docs = _materialize(
        spark, _s0_docs(pages, "url", anchors=use_anchors), work_dir, "s0_extract"
    )

    # S1+S2 fused — blocking (hot-key capped) + length gate in
    # the join condition + codegen Levenshtein gate BEFORE the dedup
    # shuffle (see scored_candidate_pairs: the unfused variant cost 3
    # full-size shuffles of the 40M-row blocked pair set). The Python
    # JW UDF then only sees the ~2% of pairs that survive the gates.
    # Optional a: anchor-text keys carry the page's OWN normalized
    # title as payload, so the fused join's gates still compare titles.
    key_kw = dict(
        max_block_size=max_block_size, ngram=ngram, use_minhash=use_minhash,
        use_phonetic=use_phonetic, cap_mode=cap_mode,
        extra_keys=_anchor_key_rows(docs) if use_anchors else None,
    )
    scored = scored_candidate_pairs(docs, "id", "title_norm", lev_max=lev_max, **key_kw)
    if scorer == "fs":
        from .operators.fs_linkage import (
            collect_pattern_counts,
            comparison_vectors,
            fs_fit,
            fs_match_weights,
            fs_score,
            random_pairs,
            u_probs_from_counts,
            abs_diff_level,
            lev_level,
        )
        from .operators.sampling import hash_sample

        fields = {
            "title": lev_level(
                F.col("t1"), F.col("t2"), fuzzy_max_lev=max(1, lev_max)
            ),
            "token": lev_level(
                F.split(F.col("t1"), " ")[0],
                F.split(F.col("t2"), " ")[0],
                fuzzy_max_lev=1,
            ),
            "len": abs_diff_level(
                F.length("t1"), F.length("t2"), fuzzy_max_diff=1
            ),
        }
        scored = comparison_vectors(scored, fields)
    else:
        scored = scored.withColumn(
            "jw", jaro_winkler_udf(F.col("t1"), F.col("t2"))
        )
    if pair_scorer is not None:
        scored = scored.withColumn("p1", pair_scorer(F.col("t1"), F.col("t2")))
    # drop the pair strings before the stage sink: downstream needs only
    # ids + scores, and at 10^12 docs writing two titles per scored pair
    # doubles the checkpoint's bytes for inspection-only value
    scored = scored.drop("t1", "t2")
    scored = _materialize(spark, scored, work_dir, "s2_scored")
    if scorer == "fs":
        # Splink's two-step estimation, because blocked+lev-gated pairs
        # are nearly all matches and a free two-class EM over them
        # degenerates into splitting exact-vs-fuzzy matches (measured:
        # pipeline recall 0.17 free vs 1.0 fixed-u):
        # (1) u from deterministic RANDOM pairs of the corpus — random
        #     pairs are non-matches w.p. ~1, so the gamma marginals
        #     are the non-match distributions;
        # (2) EM on the blocked-pair contingency with u held fixed
        #     learns only m and lambda.
        # Both contingencies are map-combined 27-cell aggregates; the
        # blocked one reads the s2 checkpoint instead of re-running the
        # pair join. The fitted weights fold into the plan as literals
        # — scoring is a pure projection.
        u_src = docs.select("id", F.col("title_norm").alias("t1"))
        rp = random_pairs(u_src, "id", ["t1"]).select(
            F.col("t1_1").alias("t1"), F.col("t1_2").alias("t2")
        )
        cv_u = comparison_vectors(rp, fields)
        u_probs = u_probs_from_counts(
            collect_pattern_counts(cv_u, list(fields), [3, 3, 3]),
            list(fields),
            [3, 3, 3],
        )
        fit_cv = (
            scored
            if fs_fit_fraction >= 1.0
            else hash_sample(scored, "id1", fs_fit_fraction, salt="fsfit")
        )
        params = fs_fit(
            fit_cv, list(fields), [3, 3, 3], iters=30, fixed_u=u_probs
        )
        scored = fs_score(scored, fs_match_weights(params))

    # unfused blocked-pair universe, built lazily for eval/inspection
    # (er_f1_eval scores F1 over ALL blocked pairs, pre-lev-gate);
    # not materialized — computed only if a caller runs an action on it
    pairs = candidate_pairs(docs, "id", "title_norm", persist_keys=False, **key_kw)

    # S3 — match filter
    if scorer == "fs":
        matches = scored.where(
            F.col("match_weight_micro")
            >= F.lit(int(round(fs_threshold_bits * 1e6)))
        )
        score_col = (F.col("match_weight_micro") / F.lit(1e6)).alias(
            "weight_bits"
        )
    else:
        matches = scored.where(F.col("jw") >= jw_threshold)
        score_col = F.col("jw")
    if pair_scorer is not None:
        matches = matches.where(F.col("p1") >= conf_threshold)
    matches = _materialize(
        spark, matches.select("id1", "id2", score_col), work_dir, "s3_matches"
    )

    # S4 — cluster formation (closure by default; 1-hop center/star on
    # request — see the ``clustering`` docstring)
    match_edges = matches.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    if clustering == "cc":
        comps = connected_components(match_edges)
    else:
        from .operators.star import center_clusters, star_clusters

        fn = center_clusters if clustering == "center" else star_clusters
        comps = fn(match_edges).select(
            "node", F.col("cluster").alias("component")
        )
    comps = _materialize(spark, comps, work_dir, "s4_components")

    # S5 — assignment
    clusters = _materialize(spark, _er_assignment(docs, comps), work_dir, "s5_clusters")

    return {
        "docs": docs,
        "pairs": pairs,
        "scored": scored,
        "matches": matches,
        "components": comps,
        "clusters": clusters,
    }


# The state tables' fixed schemas (layout: incremental_er's docstring).
# Reading with them skips the footer-inference job a bare read runs.
DOCS_SCHEMA = "id bigint, url string, title string, title_norm string"
EDGES_SCHEMA = "src bigint, dst bigint"
CLUSTERS_SCHEMA = "node bigint, component bigint"


def incremental_er(
    spark: SparkSession,
    pages_new: DataFrame | None,
    state_dir: str,
    *,
    jw_threshold: float = 0.82,
    lev_max: int = 2,
    max_block_size: int = 100,
    cap_mode: str = "drop",
    ngram: int = 3,
    pair_scorer=None,
    conf_threshold: float = 0.5,
    use_minhash: bool = False,
    deleted_ids: DataFrame | None = None,
) -> DataFrame:
    """Fold a crawl delta into a persistent ER state — the day-2
    operation at 10^12 docs, where batch re-clustering per crawl is a
    full-corpus pass. → DataFrame[url, title, entity_id] for the WHOLE
    corpus (same schema as run_er_pipeline).

    State layout under ``state_dir`` (parquet; at production scale
    these would be Iceberg tables — same access pattern), each read
    with its fixed schema (``DOCS_SCHEMA``, ``EDGES_SCHEMA``,
    ``CLUSTERS_SCHEMA``) so no read runs a schema-inference job:
    - ``docs``     — (id, url, title, title_norm), append-only;
    - ``edges``    — (src, dst) match-edge lineage, append-only; kept
      because retracting a node can SPLIT a component, which is only
      decidable on the real edges (see ``remove_nodes``);
    - ``clusters`` — (node, component) from connected_components.

    First call bootstraps via the batch pipeline. Subsequent calls fold
    the delta in about one Spark job per step, because every
    delta-sized frame is computed once, collected to the driver, and
    read back by the later steps as one Arrow batch:
    1. the delta's S0 rows (``_s0_docs``, as the batch path builds
       them) are collected;
    2. one job collects the already-ingested delta ids and the known
       edges incident to the delta (``docs`` and ``edges`` probe the
       broadcast delta id list and never shuffle); the other rows are
       appended to ``docs``, a url the state already holds keeps its
       stored row, and blocking then reads the stored title;
    3. the delta's match edges are collected as ``[src, dst]`` from
       ``scored_candidate_pairs(delta_ids=...)`` (the delta's key rows
       broadcast against the corpus key rows — no corpus shuffle), with
       ``jaro_winkler_udf`` and the optional ``pair_scorer`` applied in
       the same job, as the batch path applies them;
    4. the match edges not among the known ones are appended to
       ``edges`` (the set difference runs on the driver);
    5. ``update_clusters`` collects the touched members with the delta
       edges, closes them (on the driver below
       ``connected_components``' ``driver_threshold``, distributed
       above it), and ``clusters_next`` is written as the untouched
       rows plus the refreshed ones.
    Size bound: the driver holds the delta's S0 rows, its already-
    ingested ids, its match edges (two ids each) and the known edges
    incident to it. That assumes a delta the driver can hold, as the
    delta id list broadcast to every join already does; a crawl too
    big for that is a batch re-run, not a fold. The touched
    neighbourhood is collected only up to ``driver_threshold`` edges.

    ``deleted_ids`` (one id column): retract documents — real crawl
    refreshes expire pages as well as adding them. Deletions apply
    BEFORE the delta ingest; pass ``pages_new=None`` for a
    deletion-only refresh. Rows leave ``docs``, incident edges leave
    ``edges``, and only the touched components re-close
    (``remove_nodes`` — the same delta-neighborhood bound as inserts).
    Deleting an unknown id is a no-op; delete + re-ingest of the same
    url re-clusters it from scratch.

    Every call past the bootstrap requires the ``edges`` table: a state
    written before edge lineage existed raises at the start of the call
    and must be re-bootstrapped.

    Equals batch re-clustering of the surviving corpus whenever no
    blocking key exceeds ``max_block_size`` (asserted in tests); with
    capping, the two can diverge only on pairs whose every shared key
    is hot.

    Crash consistency: the docs/edges appends are idempotent
    (re-ingesting a batch dedups on id / on (src, dst)), and every
    table replacement goes through a recoverable three-step swap
    (write ``<t>_next`` → rename ``<t>``→``<t>_old`` → rename
    ``<t>_next``→``<t>`` → delete ``<t>_old``). A job killed in ANY
    window re-heals: on startup ``_finish_cluster_swap`` completes any
    half-done swap (table missing but a ``_SUCCESS``-stamped
    ``_next``/``_old`` present) and re-running the SAME call is
    idempotent, so the state is never bricked — deletion re-runs see
    already-filtered tables and re-filter them to the same result.

    A durable marker in ``state_dir``, ``_INGEST_PENDING``, keeps
    DELETIONS from running against an edge table that does not reflect
    the clustering: it is set before an ingest's edge append and cleared
    after its cluster swap, so a deletion attempted in that crashed
    window raises and tells the caller to re-run the ingest, which
    heals idempotently and clears the marker.
    """
    docs_path = os.path.join(state_dir, "docs")
    edges_path = os.path.join(state_dir, "edges")
    clusters_path = os.path.join(state_dir, "clusters")
    pending_marker = os.path.join(state_dir, "_INGEST_PENDING")

    for p in (clusters_path, edges_path, docs_path):
        _finish_cluster_swap(spark, p)
    if not _is_done(spark, docs_path):
        if pages_new is None:
            raise ValueError("incremental_er: no state to refresh and no pages to bootstrap from")
        if deleted_ids is not None:
            raise ValueError("incremental_er: deleted_ids needs an existing state (nothing ingested yet)")
        # every er_stages stage is checkpointed, so the three table
        # writes read stage outputs: blocking and JW run once
        st = er_stages(
            pages_new, spark=spark, jw_threshold=jw_threshold, lev_max=lev_max,
            max_block_size=max_block_size, ngram=ngram, pair_scorer=pair_scorer,
            conf_threshold=conf_threshold, use_minhash=use_minhash, cap_mode=cap_mode,
        )
        st["components"].write.mode("overwrite").parquet(clusters_path)
        st["matches"].select(
            F.col("id1").alias("src"), F.col("id2").alias("dst")
        ).write.mode("overwrite").parquet(edges_path)
        # docs is written LAST: _is_done(docs) is the bootstrap's
        # commit marker, so a crash mid-bootstrap re-runs it whole
        st["docs"].select("id", "url", "title", "title_norm").write.mode(
            "overwrite"
        ).parquet(docs_path)
        # a fresh bootstrap has no ingest in flight — clear a stale
        # marker from any previous life of the dir
        _drop_marker(spark, pending_marker)
        return st["clusters"]

    # the bootstrap writes edges before its docs commit and the swap
    # recovery above heals a half-done swap, so only a state written
    # before edge lineage existed lacks the table
    if not _is_done(spark, edges_path):
        raise RuntimeError(
            "incremental_er: this state has no edge lineage table "
            f"({edges_path}) — it predates edge lineage; re-bootstrap it"
        )

    if deleted_ids is not None:
        if _marker_exists(spark, pending_marker):
            raise RuntimeError(
                "incremental_er: a previous ingest crashed between its "
                "edge append and cluster swap, so edges and clusters "
                "disagree; re-run that ingest (idempotent — it heals "
                "and clears the marker) before deleting"
            )
        dele = (
            deleted_ids.select(F.col(deleted_ids.columns[0]).alias("id"))
            .distinct()
        )
        docs_prev = spark.read.schema(DOCS_SCHEMA).parquet(docs_path)
        edges_prev = spark.read.schema(EDGES_SCHEMA).parquet(edges_path)
        clusters_prev = spark.read.schema(CLUSTERS_SCHEMA).parquet(clusters_path)
        # all three _next tables are WRITTEN (from the still-unswapped
        # prev tables) before any rename happens, then swapped edges →
        # clusters → docs; a crash in any window re-heals because the
        # re-run's filters are no-ops on already-swapped tables
        remove_nodes(
            clusters_prev,
            edges_prev,
            dele,
            node_col="node", component_col="component",
        ).write.mode("overwrite").parquet(clusters_path + "_next")
        (
            edges_prev.join(F.broadcast(dele), edges_prev.src == dele.id, "left_anti")
            .join(F.broadcast(dele), edges_prev.dst == dele.id, "left_anti")
            .write.mode("overwrite").parquet(edges_path + "_next")
        )
        docs_prev.join(F.broadcast(dele), "id", "left_anti").write.mode(
            "overwrite"
        ).parquet(docs_path + "_next")
        for p in (edges_path, clusters_path, docs_path):
            _swap_in(spark, p)

    if pages_new is None:
        return _er_assignment(
            spark.read.schema(DOCS_SCHEMA).parquet(docs_path),
            spark.read.schema(CLUSTERS_SCHEMA).parquet(clusters_path),
        )

    # every delta-sized frame is computed once and held on the driver;
    # later steps read it back as one Arrow batch (no Python worker),
    # so no lineage back to pages_new is re-derived
    new_docs = _s0_docs(pages_new, "url").toArrow()
    new_ids = spark.createDataFrame(new_docs.select(["id"]))
    # one job looks up both delta-neighbourhood lists: the delta ids the
    # corpus already holds (rows with a null dst) and the known edges
    # incident to the delta. The big tables probe the broadcast id list
    # and never shuffle (same inversion as the hot-key cap)
    ids = F.broadcast(new_ids)
    docs_prev = spark.read.schema(DOCS_SCHEMA).parquet(docs_path)
    lookup = docs_prev.join(ids, "id", "left_semi").select(
        F.col("id").alias("src"), F.lit(None).cast("bigint").alias("dst")
    )
    eprev = spark.read.schema(EDGES_SCHEMA).parquet(edges_path)
    lookup = lookup.unionByName(
        eprev.join(ids, eprev.src == new_ids.id, "left_semi")
    ).unionByName(eprev.join(ids, eprev.dst == new_ids.id, "left_semi"))
    found = lookup.toArrow()
    is_doc = pc.is_null(found["dst"])
    dup_ids = found.filter(is_doc)["src"].combine_chunks()
    known = found.filter(pc.invert(is_doc))

    fresh_docs = new_docs.filter(pc.invert(pc.is_in(new_docs["id"], value_set=dup_ids)))
    # one file per append, as the delta's own single-file read gave:
    # a driver-built frame splits into one partition per core
    spark.createDataFrame(fresh_docs, DOCS_SCHEMA).coalesce(1).write.mode("append").parquet(
        docs_path
    )

    docs_all = spark.read.schema(DOCS_SCHEMA).parquet(docs_path)
    clusters_prev = spark.read.schema(CLUSTERS_SCHEMA).parquet(clusters_path)
    # the delta's match edges are collected once (JW and the optional
    # pair_scorer run in the same job) and feed both the lineage append
    # and the cluster fold
    scored = scored_candidate_pairs(
        docs_all, "id", "title_norm",
        lev_max=lev_max, max_block_size=max_block_size, ngram=ngram,
        use_minhash=use_minhash, delta_ids=new_ids, cap_mode=cap_mode,
    ).withColumn("jw", jaro_winkler_udf(F.col("t1"), F.col("t2")))
    matches = scored.where(F.col("jw") >= jw_threshold)
    if pair_scorer is not None:
        matches = matches.withColumn(
            "p1", pair_scorer(F.col("t1"), F.col("t2"))
        ).where(F.col("p1") >= conf_threshold)
    delta_edges = matches.select(F.col("id1").alias("src"), F.col("id2").alias("dst")).toArrow()

    # append to the edge lineage, deduped against a crashed re-run of
    # the same batch: any already-present edge incident to a delta id
    # (the known list looked up above) is skipped, so re-running the
    # call can't grow the table
    fresh = delta_edges.join(known, ["src", "dst"], join_type="left anti")
    # edges-append → cluster-swap is not atomic; the pending marker
    # (set before the append, cleared after the swap) fences deletions
    # out of the crashed window in between
    _touch_marker(spark, pending_marker)
    spark.createDataFrame(fresh, EDGES_SCHEMA).coalesce(1).write.mode("append").parquet(
        edges_path
    )

    updated = update_clusters(clusters_prev, spark.createDataFrame(delta_edges, EDGES_SCHEMA))
    updated.write.mode("overwrite").parquet(clusters_path + "_next")
    _swap_in(spark, clusters_path)
    _drop_marker(spark, pending_marker)
    return _er_assignment(docs_all, spark.read.schema(CLUSTERS_SCHEMA).parquet(clusters_path))


def _swap_in(spark: SparkSession, path: str) -> None:
    """Promote a written-and-stamped ``<path>_next`` over ``<path>``
    via the recoverable three-step swap (see incremental_er docstring).
    Hadoop rename reports failure by RETURNING false, not raising —
    ignoring it would silently serve the stale table."""
    fs, hp = _fs_path(spark, path)
    _, old = _fs_path(spark, path + "_old")
    _, nxt = _fs_path(spark, path + "_next")
    fs.delete(old, True)  # stale _old from a crash after a completed swap
    if not fs.rename(hp, old):
        raise RuntimeError(f"table swap: rename {path} -> _old failed")
    if not fs.rename(nxt, hp):
        raise RuntimeError(f"table swap: rename {path}_next -> {path} failed")
    fs.delete(old, True)


def _finish_cluster_swap(spark: SparkSession, clusters_path: str) -> None:
    """Complete a half-done state-table swap left by a killed job
    (clusters, edges, or docs — the invariant is per-path).

    Invariant of :func:`_swap_in`: ``<t>_next`` is only renamed away
    AFTER ``<t>`` has been renamed to ``<t>_old``, so if ``<t>`` is
    missing, a ``_SUCCESS``-stamped ``<t>_next`` (preferred — it is
    the newer state) or ``<t>_old`` must exist; promote it and clean
    up."""
    if _is_done(spark, clusters_path):
        return
    fs, hp = _fs_path(spark, clusters_path)
    _, nxt = _fs_path(spark, clusters_path + "_next")
    _, old = _fs_path(spark, clusters_path + "_old")
    if _is_done(spark, clusters_path + "_next"):
        fs.delete(hp, True)  # partial/un-stamped clusters dir, if any
        if not fs.rename(nxt, hp):
            raise RuntimeError(f"swap recovery: rename _next -> {clusters_path} failed")
        fs.delete(old, True)
    elif _is_done(spark, clusters_path + "_old"):
        fs.delete(hp, True)
        if not fs.rename(old, hp):
            raise RuntimeError(f"swap recovery: rename _old -> {clusters_path} failed")
        fs.delete(nxt, True)


def _er_assignment(docs: DataFrame, comps: DataFrame) -> DataFrame:
    return docs.join(comps, docs.id == comps.node, "left").select(
        "url",
        "title",
        F.coalesce(F.col("component"), F.col("id")).alias("entity_id"),
    )


def run_er_pipeline(
    spark: SparkSession,
    *,
    n_pages: int | None = None,
    pages: DataFrame | None = None,
    work_dir: str | None = None,
    **kwargs,
) -> DataFrame:
    """Flagship job -> DataFrame[url, title, entity_id]. Provide either
    a real ``pages`` table or ``n_pages`` for the deterministic
    synthetic source."""
    if pages is None:
        if n_pages is None:
            raise ValueError("need pages or n_pages")
        pages = generate_pages(spark, n_pages, with_truth=False)
    return er_stages(pages, spark=spark, work_dir=work_dir, **kwargs)["clusters"]

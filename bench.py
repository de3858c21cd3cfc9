#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line::

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

Extra knobs (for the north-rule two-parallelism scaling evidence —
BASELINE.json: docs/sec efficiency >= 0.8 from N to 4N cores):

    python bench.py --cores 8          # override parallelism
    python bench.py --only pipeline    # run a subset

The flagship ``pipeline`` query is the full entity-resolution job
(generate pages -> extract -> NFKD normalize -> ngram+MinHash blocking,
hot-key capped -> JW/Lev scoring -> threshold -> connected components) over a
deterministically synthesized pages table sized by sf; its docs/sec is
reported as ``pages_per_sec``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_spark(cores: int, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    sp = shuffle_partitions or max(cores * 2, 8)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # single-JVM local mode: G1's concurrent cycles thrash at 32
        # busy threads (measured 1.7x slowdown on the blocking join);
        # throughput-oriented ParallelGC fits batch jobs better here
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .appName("deezymatch-spark-bench")
        .getOrCreate()
    )


def sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else 0.1


def pages_for_sf(sf: float) -> int:
    # 2,000 pages at sf0.001, 10x per step (200k at sf0.1): large
    # enough that the pipeline's ~20s fixed latency (worker pools,
    # stage barriers, CC rounds) doesn't dominate the docs/sec number
    return max(2000, int(2_000_000 * sf))


def bench_pairwise_scoring(spark, n_pages: int) -> tuple[int, float]:
    """Siamese-GRU pairwise classification throughput (the reference's
    headline number: 1.1-2.6k pairs/s on cuda:1, BASELINE.md). Model
    artifact is trained once and cached under /tmp."""
    from pyspark.sql import functions as F

    from deezymatch_spark import api
    from deezymatch_spark.sources.pages import generate_pages

    path = "/tmp/deezymatch_bench_model"
    if not os.path.exists(os.path.join(path, "config.json")):
        pages = generate_pages(spark, 2000, with_truth=True)
        t = pages.select(
            F.xxhash64("url").alias("id"), "title", F.col("cluster_id").alias("cid")
        )
        a, b = t.alias("a"), t.alias("b")
        train_pairs = (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.title").alias("s1"), F.col("b.title").alias("s2"),
                (F.col("a.cid") == F.col("b.cid")).alias("label"),
            )
            .orderBy(F.rand(1364)).limit(2000)
            .withColumn("original_index", F.monotonically_increasing_id())
        )
        api.train(spark, train_pairs, "deezymatch_bench_model", models_dir="/tmp")

    # fixed ~100k pairs regardless of sf — comparable to the
    # reference's 66.9k-pair wikigaz benchmark (BASELINE.md)
    n_side = 25_000
    big = generate_pages(spark, n_side, with_truth=True).select(
        F.xxhash64("url").alias("id"), "title", "cluster_id"
    )
    a, b = big.alias("a"), big.alias("b")
    pairs = (
        a.join(b, F.col("b.cluster_id") == F.col("a.cluster_id") + 1)
        .select(F.col("a.title").alias("s1"), F.col("b.title").alias("s2"))
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    n = pairs.count()
    scored = api.inference(spark, path, pairs, inference_mode="test")
    # untimed warm-up: spin up python workers + load the model artifact
    # once per worker so the timed pass measures steady-state throughput
    api.inference(
        spark, path, pairs.sample(False, 0.02, seed=1), inference_mode="test"
    ).agg({"p1": "sum"}).collect()
    # best-of-3 timed passes: host tenancy makes identical runs vary
    # up to ~3x (see PLANS.md hardware context); min is the least-
    # contended estimate of steady-state throughput
    els = []
    for _ in range(3):
        t0 = time.time()
        scored.agg({"p1": "sum"}).collect()
        els.append(time.time() - t0)
    pairs.unpersist()
    return n, min(els)


def bench_encoder_training() -> tuple[int, int, float]:
    """BPTT throughput of the numpy siamese-GRU trainer at the
    reference's own training scale (5k pairs, input_dfm config dims:
    bi-GRU 2x60, emb 60, batch 256). The reference's committed numbers
    are 52-5,733 s per 20-epoch run on cuda:1 (BASELINE.md); we report
    pair-epochs/sec so any epoch count is comparable."""
    from deezymatch_spark.model.fixtures import encode_pairs, translit_pairs
    from deezymatch_spark.model.numpy_rnn import SiameseRNN
    from deezymatch_spark.model.train_numpy import fit

    n_pairs, epochs = 5000, 1
    train = encode_pairs(translit_pairs(n_pairs, seed=7))
    # best-of-2 fresh single-epoch fits: single-core numpy work is the
    # most tenancy-exposed measurement in the suite (same loop read
    # 958 / 705 / 221 pair-epochs/s across one hour); min is the
    # least-contended estimate of the trainer's real throughput
    els = []
    for _ in range(2):
        model = SiameseRNN.from_seed(
            1364, 24, architecture="gru", hidden_dim=60, embedding_dim=60,
            n_layers=2, pooling_mode="hstates_layers_simple",
        )
        t0 = time.time()
        fit(model, train, None, epochs=epochs, batch_size=256, lr=0.001)
        els.append(time.time() - t0)
    return n_pairs, epochs, min(els)


def py_probe() -> float:
    """Fixed-work PYTHON-substrate probe, the numpy twin of
    :func:`hw_probe`: a fixed single-thread GEMM chain plus one
    forward pass of the bench scorer's own GRU geometry on a fixed
    batch. Run BEFORE the JVM exists (like ``encoder_training``), so
    it isolates Python/numpy tenancy from JVM tenancy: round 3's
    encoder/scoring numbers halved while the JVM probe moved 7%, and
    attributing that cost an hour of audit — ``py_probe_sec`` makes it
    readable directly. Interpretation (BASELINE.md): normalize
    encoder_training / pairwise_scoring by the ``py_probe_sec`` ratio
    and the Spark queries by ``hw_probe_sec`` before comparing rounds.
    Best-of-2; ~1s on an idle host."""
    import numpy as np

    from deezymatch_spark.model.fixtures import encode_pairs, translit_pairs
    from deezymatch_spark.model.numpy_rnn import SiameseRNN

    model = SiameseRNN.from_seed(
        1364, 24, architecture="gru", hidden_dim=60, embedding_dim=60,
        n_layers=2, pooling_mode="hstates_layers_simple",
    )
    X1, l1, X2, l2, _y = encode_pairs(translit_pairs(256, seed=11))
    rng = np.random.default_rng(1364)
    a = rng.standard_normal((512, 512))
    els = []
    for _ in range(2):
        t0 = time.time()
        m = a
        for _ in range(150):  # fixed GEMM chain, ~40 GFLOP total
            m = np.tanh(m @ a * 0.01)
        model.classify(X1, l1, X2, l2)
        els.append(time.time() - t0)
    return min(els)


def hw_probe(spark) -> float:
    """Fixed-work CPU probe: a pure whole-stage-codegen aggregation
    (2B-row xxhash sum — zero shuffle, zero Python, zero disk). Its
    wall time calibrates host co-tenancy for THIS bench invocation:
    identical code measured across sessions varies up to ~3x on this
    sandbox (see PLANS.md hardware context), so cross-round comparisons
    should normalize by the probe ratio before reading anything as a
    regression. Reported as ``hw_probe_sec`` (min of a pre/post pass)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 2_000_000_000, 1, spark.sparkContext.defaultParallelism)
    t0 = time.time()
    df.agg(F.sum(F.pmod(F.xxhash64(F.col("id") * 7), F.lit(997)))).collect()
    return time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--pages", type=int, default=None)
    args = ap.parse_args()

    sf = sf_of(args.sf_dir)

    # Headline subset: the operators that dominate a real ER run.
    names = [
        "pipeline_entity_clusters",
        "pairwise_scoring",
        "encoder_training",
        "ranker_topk",
        "minhash_dup_pairs",
        "lsh_band_keys",
        "sq_l2_topk",
        "simhash",
        "events_signals",
    ]
    if args.only:
        names = [n for n in names if n in args.only] or args.only

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # both Python-side measurements run BEFORE the Spark JVM exists: a
    # live local[32] JVM (GC/JIT threads) depressed the same single-core
    # training loop 958 -> 392 pair-epochs/s in a same-session A/B
    extras["py_probe_sec"] = round(py_probe(), 3)
    if "encoder_training" in names:
        n_tr, n_ep, el = bench_encoder_training()
        timings["encoder_training"] = round(el, 3)
        extras["train_pairs"] = n_tr
        extras["train_epochs"] = n_ep
        extras["train_pair_epochs_per_sec"] = round(n_tr * n_ep / el, 1)
        names = [n for n in names if n != "encoder_training"]

    spark = build_spark(args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    n_pages = args.pages or pages_for_sf(sf)

    import __spark_entry__ as E

    qs = E.queries()

    probe_pre = hw_probe(spark)

    for name in names:
        if name == "pipeline_entity_clusters":
            from deezymatch_spark.pipeline import run_er_pipeline

            # best-of-3 full runs: identical pipeline runs vary up to
            # ~3x under host co-tenancy (see PLANS.md); min is the
            # least-contended estimate of the job's actual cost.
            # clearCache() before EVERY rep: the pipeline persists its
            # docs/keys frames and Spark's CacheManager substitutes
            # cached plans into later identical queries, so without it
            # reps 2-3 silently skip generation + normalization + key
            # building (measured 62s cold vs 19s cache-warm at 4M pages)
            # — each rep must be data-cold, JIT-warm.
            els = []
            for _ in range(3):
                spark.catalog.clearCache()
                t1 = time.time()
                n_rows = run_er_pipeline(spark, n_pages=n_pages).count()
                els.append(time.time() - t1)
            el = min(els)
            spark.catalog.clearCache()
            extras["pages"] = n_pages
            extras["pages_per_sec"] = round(n_pages / el, 1)
            extras["pipeline_out_rows"] = n_rows
            # scaling legs (tools/scaling.py: --only pipeline_entity_
            # clusters) time ONLY the headline reps: the fs/downsample
            # extras below would add 4 more full pipeline runs per leg
            # — at 64M pages x local[2] that alone blows the 2h per-leg
            # guard (r5 incident: the first 64M row died to it)
            if args.only:
                timings[name] = round(el, 3)
                continue
            # Fellegi-Sunter scorer mode (UDF-free S2+S3): reported as
            # an extra, NOT summed into headline_total, so round-over-
            # round totals stay comparable. Best-of-2 data-cold reps.
            els_fs = []
            for _ in range(2):
                spark.catalog.clearCache()
                t1 = time.time()
                run_er_pipeline(spark, n_pages=n_pages, scorer="fs").count()
                els_fs.append(time.time() - t1)
            el_fs = min(els_fs)
            spark.catalog.clearCache()
            extras["pipeline_fs_sec"] = round(el_fs, 3)
            extras["pages_per_sec_fs"] = round(n_pages / el_fs, 1)
            # r5: downsample cap mode (recall floor for over-cap keys) —
            # extras only, same rationale; prices what the floor costs
            # at this scale next to the default drop-cap headline
            els_ds = []
            for _ in range(2):
                spark.catalog.clearCache()
                t1 = time.time()
                run_er_pipeline(
                    spark, n_pages=n_pages, cap_mode="downsample"
                ).count()
                els_ds.append(time.time() - t1)
            el_ds = min(els_ds)
            spark.catalog.clearCache()
            extras["pipeline_downsample_sec"] = round(el_ds, 3)
            extras["pages_per_sec_downsample"] = round(n_pages / el_ds, 1)
        elif name == "pairwise_scoring":
            n_pairs, el = bench_pairwise_scoring(spark, n_pages)
            extras["pairs_scored"] = n_pairs
            extras["pairs_per_sec"] = round(n_pairs / el, 1)
        else:
            # best-of-2 for the cheap queries too (same tenancy rationale).
            # A q_<name>_bench override pins the benched work to the
            # round-1 constituent when the CONTRACT entry later grew
            # extra composite sections (e.g. minhash_dup_pairs gained
            # the exact ppjoin rows in r4) — bench numbers must measure
            # the same work every round. Fall back to the module-level
            # q_* functions for constituent queries that were merged
            # into composite contract entries (e.g. sq_l2_topk ->
            # vector_topk) so bench metric names stay comparable.
            fn = (
                getattr(E, f"q_{name}_bench", None)
                or qs.get(name)
                or getattr(E, f"q_{name}")
            )
            els = []
            for _ in range(2):
                t1 = time.time()
                n_rows = fn(spark, args.sf_dir).count()
                els.append(time.time() - t1)
            el = min(els)
        timings[name] = round(el, 3)

    extras["hw_probe_sec"] = round(min(probe_pre, hw_probe(spark)), 3)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": args.cores,
        **extras,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

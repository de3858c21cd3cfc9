#!/usr/bin/env python
"""spark-submit entry point for the flagship ER pipeline.

Ship + run (north_rule: spark-submit --py-files on a multi-executor
cluster; resumable via --work-dir):

    cd /root/repo && zip -qr /tmp/deezymatch_spark.zip deezymatch_spark
    spark-submit --master <cluster> \
        --py-files /tmp/deezymatch_spark.zip \
        jobs/er_pipeline.py \
        --input s3://bucket/pages_parquet --output s3://bucket/clusters \
        --work-dir s3://bucket/ckpt --shuffle-partitions 4096

For the sandbox / smoke tests, --n-pages synthesizes the deterministic
pages table instead of reading --input.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table path/identifier (input_hint schema)")
    ap.add_argument("--input-format", default="parquet",
                    help="DataSource for --input: parquet (default), "
                         "iceberg, delta, orc, ... — iceberg/delta need "
                         "their runtime jars + catalog config on the "
                         "cluster (spark.sql.catalog.*); the pipeline "
                         "itself is format-agnostic past the scan")
    ap.add_argument("--n-pages", type=int, help="synthesize N deterministic pages")
    ap.add_argument("--output", required=True, help="clusters output parquet path")
    ap.add_argument("--work-dir", help="stage checkpoint dir (resume on re-run)")
    ap.add_argument("--jw-threshold", type=float, default=0.82)
    ap.add_argument("--lev-max", type=int, default=2)
    ap.add_argument("--max-block-size", type=int, default=100)
    ap.add_argument("--driver-memory", default=None,
                    help="spark.driver.memory for plain-python local "
                         "runs (e.g. 24g; the exact-recall audit's "
                         "edjoin gold needs heap at 200k+ pages)")
    ap.add_argument("--cap-mode", choices=["drop", "downsample"],
                    default="drop",
                    help="over-cap blocks: drop entirely (default, the "
                         "graded semantic) or deterministically downsample "
                         "to --max-block-size members (recall floor; see "
                         "PLANS.md runbook)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--use-minhash", action="store_true",
                    help="add m: MinHash-band keys (long-text keys)")
    ap.add_argument("--use-anchors", action="store_true",
                    help="add a: anchor-text keys (short/corrupted titles)")
    ap.add_argument("--use-phonetic", action="store_true",
                    help="add p: soundex keys over the title tokens "
                         "(sound-alike respellings sharing no gram/word key)")
    ap.add_argument("--scorer", choices=["jw", "fs"], default="jw",
                    help="pair scorer: jw = Jaro-Winkler Arrow UDF; fs = "
                         "Fellegi-Sunter m/u model fit unsupervised by EM "
                         "(UDF-free, whole-stage-codegen scoring)")
    ap.add_argument("--fs-threshold-bits", type=float, default=2.0,
                    help="fs: min total log2(m/u) evidence for a match")
    ap.add_argument("--fs-fit-fraction", type=float, default=1.0,
                    help="fs: fit EM on this deterministic hash_sample "
                         "fraction of the candidate pairs (fit on a slice, "
                         "score everything)")
    ap.add_argument("--stats-output",
                    help="also write the per-cluster structural triage "
                         "(cluster_graph_stats: density, tree/chain-risk "
                         "flag, cut edges) to this parquet path (batch "
                         "mode only)")
    ap.add_argument("--clustering", choices=["cc", "center", "star"], default="cc",
                    help="S4 cluster formation: cc = transitive closure; "
                         "center/star = diameter-bounded 1-hop clusters "
                         "(anti-chaining — a single bad match edge cannot "
                         "merge two real entities)")
    ap.add_argument("--preflight", action="store_true",
                    help="price the blocking join instead of running the "
                         "pipeline: write/print the per-key-family "
                         "estimated-comparison report (one aggregation "
                         "pass, no pair join) and exit — run this first "
                         "on big inputs to choose --max-block-size and "
                         "--shuffle-partitions")
    ap.add_argument("--audit-recall", type=float, default=0.0,
                    metavar="FRACTION",
                    help="after clustering, measure the TRUE blocking "
                         "recall (batch mode only): gold = every title "
                         "pair within --lev-max edits via the recall-"
                         "complete exact edit-distance join, candidates "
                         "= the blocked pair universe; FRACTION < 1 "
                         "audits a deterministic hash sample of the "
                         "corpus (at 10^12 docs run the audit on a "
                         "slice, not the corpus)")
    ap.add_argument("--incremental-state",
                    help="persistent ER state dir: fold the input into the "
                         "existing clustering (bootstraps on first run) "
                         "instead of batch re-clustering")
    args = ap.parse_args()
    if not args.input and not args.n_pages:
        ap.error("need --input or --n-pages")
    if args.incremental_state and args.scorer != "jw":
        ap.error("--scorer fs is batch-only; --incremental-state scores "
                 "deltas with the jw path")
    if args.incremental_state and args.clustering != "cc":
        ap.error("--clustering center/star is batch-only; the incremental "
                 "state maintains a transitive-closure clustering")
    if args.incremental_state and args.stats_output:
        ap.error("--stats-output is batch-only; run a batch job over the "
                 "state's pages to audit an incremental clustering")
    if args.incremental_state and args.audit_recall:
        ap.error("--audit-recall is batch-only")
    if args.audit_recall and not 0.0 < args.audit_recall <= 1.0:
        ap.error("--audit-recall must be in (0, 1]")

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("deezymatch-spark-er-pipeline").config(
        "spark.sql.adaptive.enabled", "true"
    ).config("spark.sql.adaptive.skewJoin.enabled", "true")
    if args.driver_memory:
        # only effective before the JVM starts (i.e. plain python
        # launch, local master); under spark-submit pass --driver-memory
        builder = builder.config("spark.driver.memory", args.driver_memory)
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = builder.getOrCreate()

    from deezymatch_spark.pipeline import incremental_er

    pages = (
        spark.read.format(args.input_format).load(args.input)
        if args.input
        else None
    )
    if args.preflight:
        from deezymatch_spark.pipeline import preflight_report
        from deezymatch_spark.sources.pages import generate_pages

        if pages is None:
            pages = generate_pages(spark, args.n_pages, with_truth=False)
        report = preflight_report(
            pages,
            max_block_size=args.max_block_size,
            cap_mode=args.cap_mode,
            use_minhash=args.use_minhash,
            use_anchors=args.use_anchors,
            use_phonetic=args.use_phonetic,
        )
        report.write.mode("overwrite").parquet(args.output)
        spark.read.parquet(args.output).orderBy("family").show(truncate=False)
        print(f"preflight report written to {args.output}")
        spark.stop()
        return
    if args.incremental_state:
        if pages is None:
            from deezymatch_spark.sources.pages import generate_pages

            pages = generate_pages(spark, args.n_pages, with_truth=False)
        out = incremental_er(
            spark,
            pages,
            args.incremental_state,
            jw_threshold=args.jw_threshold,
            lev_max=args.lev_max,
            max_block_size=args.max_block_size,
            cap_mode=args.cap_mode,
            use_minhash=args.use_minhash,
        )
    else:
        from deezymatch_spark.pipeline import er_stages
        from deezymatch_spark.sources.pages import generate_pages

        if pages is None:
            pages = generate_pages(spark, args.n_pages, with_truth=False)
        stages = er_stages(
            pages,
            spark=spark,
            work_dir=args.work_dir,
            jw_threshold=args.jw_threshold,
            lev_max=args.lev_max,
            max_block_size=args.max_block_size,
            cap_mode=args.cap_mode,
            use_minhash=args.use_minhash,
            use_anchors=args.use_anchors,
            use_phonetic=args.use_phonetic,
            scorer=args.scorer,
            fs_threshold_bits=args.fs_threshold_bits,
            fs_fit_fraction=args.fs_fit_fraction,
            clustering=args.clustering,
        )
        stages["clusters"].write.mode("overwrite").parquet(args.output)
        if args.stats_output:
            from pyspark.sql import functions as F

            from deezymatch_spark.operators.metrics import cluster_graph_stats

            stats = cluster_graph_stats(
                stages["matches"].select(
                    F.col("id1").alias("src"), F.col("id2").alias("dst")
                ),
                stages["components"].select(
                    "node", F.col("component").alias("cluster")
                ),
            )
            stats.write.mode("overwrite").parquet(args.stats_output)
            n_tree = spark.read.parquet(args.stats_output).where("is_tree").count()
            print(f"cluster stats written to {args.stats_output} "
                  f"({n_tree} tree-like chain-risk clusters)")
        if args.audit_recall:
            from deezymatch_spark.pipeline import exact_recall_audit

            audit = exact_recall_audit(
                stages["docs"], stages["pairs"],
                lev_max=args.lev_max,
                sample_fraction=args.audit_recall,
            ).collect()[0]
            print(
                "blocking recall audit (exact lev<="
                f"{args.lev_max} gold, fraction={args.audit_recall}): "
                f"pair_completeness_micro={audit['pair_completeness_micro']} "
                f"gold={audit['n_gold']} cand={audit['n_cand']} "
                f"found={audit['n_found']}"
            )
        print(
            f"clusters written to {args.output}: "
            f"{spark.read.parquet(args.output).count()} rows"
        )
        spark.stop()
        return
    out.write.mode("overwrite").parquet(args.output)
    print(f"clusters written to {args.output}: {spark.read.parquet(args.output).count()} rows")
    spark.stop()


if __name__ == "__main__":
    main()

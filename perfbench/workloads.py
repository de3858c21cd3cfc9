"""The benchmark's workloads. Each one drives the library only through
its public functions and checks the outputs against the corpus truth.

A workload is used in five steps, by ``run.py``:

- ``setup()`` builds the inputs and any state the program keeps between
  operations; it is repeated and timed (``setup_s``), the last one stays;
- ``prepare()`` runs untimed before every operation (cold caches,
  restored state);
- ``op(tracer)`` is one timed operation. It times each of its requests
  into ``self.timings`` (request name → seconds, or a list of them).
  With a live tracer each request runs in a span of its own;
- ``replay(tracer)`` runs after a traced operation, outside its wall,
  and calls one at a time, each in its own span, the layers the
  operation calls only inside a composed job;
- ``check(corrupt)`` verifies the last operation's output outside the
  timed region and returns the failed checks.

``op_request`` names the serving request reported as ``op_s``;
``bulk_request`` the one ``pages_per_s`` is measured on.
``page_rates()`` maps a request to the pages one such request handles.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import corpus

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
MIN_F1 = 0.99  # the ROADMAP north rule: pairwise F1 >= 0.99

# Pages per corpus, by scale ("tiny" is the self-test's). A full-scale
# run (JVM start, five set-ups, the warm-up operations and two timed
# ones) takes about a minute on 4 cores, so the two workloads' 48 runs
# fit in under an hour.
SIZES = {
    "er": {"full": 8_000, "tiny": 2_000},
    "rank_topk": {"full": 1_500, "tiny": 400},
}
DELTAS = 1  # 1% deltas folded in sequence by every er operation
RANK_QUERIES = 10
PREDICT_QUERIES = 2
TOP_K = 10


def er_defaults() -> dict:
    """``er_stages``' own defaults for the knobs the traced path passes
    to the layers, read from its signature so both paths stay equal."""
    from deezymatch_spark.pipeline import er_stages

    p = inspect.signature(er_stages).parameters
    return {
        k: p[k].default
        for k in ("jw_threshold", "lev_max", "max_block_size", "cap_mode", "ngram", "use_minhash")
    }


def pairwise_f1(truth: dict, pred: dict) -> float:
    """Pairwise F1 over ALL page pairs (not only blocked ones) from the
    cluster contingency table; ``truth``/``pred`` map url → cluster."""
    def pairs(counts):
        return sum(n * (n - 1) // 2 for n in counts.values())

    tp = pairs(Counter((truth[u], pred[u]) for u in truth))
    p_all, t_all = pairs(Counter(pred.values())), pairs(Counter(truth.values()))
    prec, rec = tp / max(p_all, 1), tp / max(t_all, 1)
    return 2 * prec * rec / max(prec + rec, 1e-12)


def check_clusters(path: str, truth: dict, corrupt: bool) -> list[str]:
    """One output row per input page, and pairwise F1 >= MIN_F1."""
    t = pq.read_table(path, columns=["url", "entity_id"]).to_pydict()
    urls, ents = t["url"], t["entity_id"]
    if corrupt:  # deliberately wrong output: shuffled entity ids
        ents = list(ents)
        random.Random(0).shuffle(ents)
    failed = []
    if len(urls) != len(truth) or set(urls) != set(truth):
        failed.append(f"rows: {len(urls)} output rows for {len(truth)} pages")
        return failed
    f1 = pairwise_f1(truth, dict(zip(urls, ents)))
    if f1 < MIN_F1:
        failed.append(f"pairwise F1 {f1:.6f} < {MIN_F1}")
    return failed


class Workload:
    name = ""
    op_request = bulk_request = ""
    warmup_ops = 1  # untimed operations before the timed loop (JIT-cold)
    min_ops = 2  # timed operations per run, however short --seconds is

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_pages = SIZES[self.name][scale]
        self.corpus = corpus.Corpus(seed, self.n_pages)
        self.checksum = ""
        self.timings: dict[str, float] = {}

    def prepare(self) -> None:
        self.spark.catalog.clearCache()

    def replay(self, tracer) -> None:
        pass

    def stats(self) -> dict[str, float]:
        """Layer counts measured after the timed loop (traced runs)."""
        return {}


class Er(Workload):
    """The flagship ER job and its incremental mode. One operation:

    - ``job_s``: the batch job, ``incremental_er`` on an empty state
      over the base corpus (95% of the pages): ``er_stages`` with the
      library defaults, from pages parquet to the state tables and the
      materialized cluster table;
    - ``delta_s``: each of a fixed sequence of 1% deltas folded into
      that state by ``incremental_er``, one request each;
    - the whole-corpus cluster table written out after the last fold.

    The state is rebuilt by every operation, so each one folds the same
    deltas into the same state. A traced operation puts the batch job
    and the folds in spans of their own, and its replay calls the batch
    job's layers one at a time on the same base corpus (``er_stages``'
    stages: S0 normalize, blocking, JW, CC, assembly) and the delta
    blocking of the last fold.
    """

    name = "er"
    op_request = "delta_s"
    bulk_request = "job_s"
    warmup_ops = 2  # the second operation still runs ~10% faster than the first

    def setup(self) -> None:
        self.n_base = self.n_pages * 95 // 100
        self.delta_pages = self.n_pages // 100
        table = self.corpus.table()
        er = os.path.join(self.work, "er")
        shutil.rmtree(er, ignore_errors=True)
        self.base_dir = os.path.join(er, "base")
        self.checksum = corpus.checksum(table)
        corpus.write_parquet(table.slice(0, self.n_base), self.base_dir)
        self.delta_dirs = []
        for k in range(DELTAS):
            path = os.path.join(er, f"delta{k}")
            corpus.write_parquet(
                table.slice(self.n_base + k * self.delta_pages, self.delta_pages), path, n_files=1
            )
            self.delta_dirs.append(path)
        cols = table.to_pydict()
        truth = dict(zip(cols["url"], cols["cluster_id"]))
        urls = cols["url"]
        self.truth_base = {u: truth[u] for u in urls[:self.n_base]}
        self.truth_final = {u: truth[u] for u in urls[:self.n_base + DELTAS * self.delta_pages]}
        self.state = os.path.join(er, "state")
        self.batch_out = os.path.join(er, "clusters_batch")
        self.final_out = os.path.join(er, "clusters_final")
        self.layered_out = os.path.join(er, "clusters_layered")
        self.spark.read.parquet(self.base_dir).count()

    def page_rates(self) -> dict[str, int]:
        return {"job_s": self.n_base, "delta_s": self.delta_pages}

    def prepare(self) -> None:
        super().prepare()
        for d in (self.state, self.batch_out, self.final_out):
            shutil.rmtree(d, ignore_errors=True)

    def read(self, path: str):
        return self.spark.read.parquet(path).select(*PAGE_COLS)

    def op(self, tracer) -> None:
        from deezymatch_spark.pipeline import incremental_er

        t0 = time.perf_counter()
        with tracer.span("incremental.bootstrap") as sp:
            out = incremental_er(self.spark, self.read(self.base_dir), self.state)
            if sp:
                sp.rows_in = sp.rows_out = self.n_base
        with tracer.span("pipeline.assemble") as sp:
            out.write.mode("overwrite").parquet(self.batch_out)
            if sp:
                sp.rows_in = sp.rows_out = self.n_base
        self.timings["job_s"] = time.perf_counter() - t0
        folds = []
        for path in self.delta_dirs:
            t0 = time.perf_counter()
            with tracer.span("incremental") as sp:
                out = incremental_er(self.spark, self.read(path), self.state)
                if sp:
                    sp.rows_in = sp.rows_out = self.delta_pages
            folds.append(time.perf_counter() - t0)
        self.timings["delta_s"] = folds
        with tracer.span("pipeline.assemble") as sp:
            out.write.mode("overwrite").parquet(self.final_out)
            if sp:
                sp.rows_in = sp.rows_out = len(self.truth_final)

    def replay(self, tracer) -> None:
        self._layered_batch(tracer)
        self._delta_blocking(tracer)

    def _layered_batch(self, tracer) -> None:
        """The batch job's layers one at a time, each materialized in
        its own span, on the base corpus."""
        from deezymatch_spark.functions.udfs import jaro_winkler_udf, normalize_udf
        from deezymatch_spark.operators.blocking import release_persisted, scored_candidate_pairs
        from deezymatch_spark.operators.cc import connected_components
        from deezymatch_spark.sources.pages import extract_title

        d = er_defaults()
        with tracer.span("udfs.normalize") as sp:
            docs = (
                self.read(self.base_dir)
                .select(
                    F.xxhash64("url").alias("id"), "url",
                    extract_title(F.col("html")).alias("title"),
                )
                .withColumn("title_norm", normalize_udf(F.col("title")))
                .persist()
            )
            sp.rows_in, sp.rows_out = self.n_base, docs.count()
        with tracer.span("blocking") as sp:
            pairs = scored_candidate_pairs(
                docs, "id", "title_norm", lev_max=d["lev_max"],
                max_block_size=d["max_block_size"], ngram=d["ngram"],
                use_minhash=d["use_minhash"], cap_mode=d["cap_mode"],
            ).persist()
            sp.rows_in, sp.rows_out = self.n_base, pairs.count()
        with tracer.span("udfs.jw") as sp:
            matches = (
                pairs.withColumn("jw", jaro_winkler_udf(F.col("t1"), F.col("t2")))
                .where(F.col("jw") >= d["jw_threshold"])
                .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
                .persist()
            )
            sp.rows_in, sp.rows_out = tracer.spans[-1].rows_out, matches.count()
        with tracer.span("cc") as sp:
            comps = connected_components(matches).persist()
            sp.rows_in, sp.rows_out = tracer.spans[-1].rows_out, comps.count()
        with tracer.span("pipeline.assemble") as sp:
            docs.join(comps, docs.id == comps.node, "left").select(
                "url", "title",
                F.coalesce(F.col("component"), F.col("id")).alias("entity_id"),
            ).write.mode("overwrite").parquet(self.layered_out)
            sp.rows_in, sp.rows_out = self.n_base, self.n_base
        for df in (comps, matches, pairs, docs):
            df.unpersist()
        release_persisted(pairs)

    def _delta_blocking(self, tracer) -> None:
        """The last fold's delta blocking (``delta_ids=``) on its own
        span, on the state that fold read, and the edge table size."""
        from deezymatch_spark.operators.blocking import release_persisted, scored_candidate_pairs

        d = er_defaults()
        delta = self.spark.read.parquet(self.delta_dirs[-1])
        docs_all = self.spark.read.parquet(os.path.join(self.state, "docs"))
        new_ids = delta.select(F.xxhash64("url").alias("id"))
        with tracer.span("blocking.delta") as sp:
            pairs = scored_candidate_pairs(
                docs_all, "id", "title_norm", lev_max=d["lev_max"],
                max_block_size=d["max_block_size"], ngram=d["ngram"],
                use_minhash=d["use_minhash"], cap_mode=d["cap_mode"], delta_ids=new_ids,
            ).persist()
            sp.rows_in, sp.rows_out = self.delta_pages, pairs.count()
        pairs.unpersist()
        release_persisted(pairs)
        self.edges_rows = self.spark.read.parquet(os.path.join(self.state, "edges")).count()

    def check(self, corrupt: bool) -> list[str]:
        return check_clusters(self.batch_out, self.truth_base, corrupt) + check_clusters(
            self.final_out, self.truth_final, corrupt
        )

    def stats(self) -> dict[str, float]:
        from deezymatch_spark.functions.udfs import normalize_udf
        from deezymatch_spark.operators.blocking import (
            blocking_keys, candidate_pairs, over_cap_block_keys,
        )
        from deezymatch_spark.operators.cc import connected_components
        from deezymatch_spark.sources.pages import extract_title

        d = er_defaults()
        docs = (
            self.read(self.base_dir)
            .select(F.xxhash64("url").alias("id"), extract_title(F.col("html")).alias("t"))
            .withColumn("title_norm", normalize_udf(F.col("t")))
            .persist()
        )
        keys = blocking_keys(
            docs, "id", "title_norm", ngram=d["ngram"], use_minhash=d["use_minhash"]
        ).persist()
        blocked = candidate_pairs(
            docs, "id", "title_norm", max_block_size=d["max_block_size"],
            ngram=d["ngram"], use_minhash=d["use_minhash"], persist_keys=False,
            cap_mode=d["cap_mode"],
        ).count()
        docs_all = self.spark.read.parquet(os.path.join(self.state, "docs"))
        out = {
            "blocking.key_rows": keys.count(),
            "blocking.overcap_keys": over_cap_block_keys(keys, d["max_block_size"]).count(),
            "blocking.blocked_pairs": blocked,
            # the delta blocking rebuilds the key rows of the whole corpus
            "blocking.delta.key_rows": blocking_keys(
                docs_all, "id", "title_norm", ngram=d["ngram"], use_minhash=d["use_minhash"]
            ).count(),
            "incremental.edges_rows": self.edges_rows,
        }
        keys.unpersist()
        docs.unpersist()
        threshold = inspect.signature(connected_components).parameters["driver_threshold"].default
        out["cc.driver_threshold"] = threshold
        return out


class RankTopk(Workload):
    """DeezyMatch's embed-then-rank loop: build the candidate embedding
    store, then answer one ``rank`` and one ``rank_predict`` request."""

    name = "rank_topk"
    op_request = "rank_s"
    bulk_request = "vect_s"

    def setup(self) -> None:
        titles = self.corpus.titles()
        self.checksum = corpus.checksum(pa.table({"key": titles}))
        rank = os.path.join(self.work, "rank")
        shutil.rmtree(rank, ignore_errors=True)
        self.store_dir = os.path.join(rank, "store")
        corpus.write_parquet(
            pa.table({"id": pa.array(range(len(titles)), pa.int64()), "key": titles}),
            self.store_dir,
        )
        step = len(titles) // RANK_QUERIES
        self.queries = [titles[i * step + i % step] for i in range(RANK_QUERIES)]
        self.artifact = os.path.join(rank, "model")
        write_model(self.artifact, titles, self.seed)
        self.spark.read.parquet(self.store_dir).count()

    def page_rates(self) -> dict[str, int]:
        return {"vect_s": self.n_pages}

    def _rank(self, store, queries, calc_predict: bool):
        from deezymatch_spark import api

        return api.candidate_ranker(
            self.spark, candidates=store, query=queries, artifact_path=self.artifact,
            ranking_metric="faiss", selection_threshold=1e9, num_candidates=TOP_K,
            search_size=4, calc_predict=calc_predict,
        ).collect()

    def op(self, tracer) -> None:
        from deezymatch_spark import api

        t0 = time.perf_counter()
        with tracer.span("scorer_udf.encode") as sp:
            store = api.inference(
                self.spark, self.artifact, self.spark.read.parquet(self.store_dir),
                inference_mode="vect", key_col="key",
            ).select("id", "key", "key_norm", "vec").persist()
            n = store.count()
            if sp:
                sp.rows_in, sp.rows_out = self.n_pages, n
        t1 = time.perf_counter()
        with tracer.span("ranker") as sp:
            self.ranked = self._rank(store, self.queries, calc_predict=False)
            if sp:
                sp.rows_in, sp.rows_out = RANK_QUERIES * n, len(self.ranked)
        t2 = time.perf_counter()
        with tracer.span("scorer_udf.pair") as sp:
            self.predicted = self._rank(store, self.queries[:PREDICT_QUERIES], calc_predict=True)
            if sp:
                sp.rows_in, sp.rows_out = PREDICT_QUERIES * n, len(self.predicted)
        t3 = time.perf_counter()
        store.unpersist()
        self.timings.update(vect_s=t1 - t0, rank_s=t2 - t1, rank_predict_s=t3 - t2)

    def check(self, corrupt: bool) -> list[str]:
        from deezymatch_spark.text import normalize_string

        ranked = [r.asDict() for r in self.ranked]
        if corrupt:  # deliberately wrong output: ranks reversed
            for r in ranked:
                r["rank"] = TOP_K + 1 - r["rank"]
        by_query: dict[str, list[dict]] = {}
        for r in ranked:
            by_query.setdefault(r["query_orig"], []).append(r)
        failed = []
        for q in self.queries:
            rows = sorted(by_query.get(q, []), key=lambda r: r["rank"])
            if len(rows) != TOP_K:
                failed.append(f"rank: {len(rows)} rows for query {q!r}")
                continue
            top = rows[0]
            if top["faiss_dist"] > 1e-6 or top["candidate"] != normalize_string(q):
                failed.append(f"rank: query {q!r} does not rank itself first")
        # the faiss ranking must not depend on calc_predict. The query
        # vectors come from batches of different sizes, so distances
        # may differ in the last bits.
        for q in self.queries[:PREDICT_QUERIES]:
            plain = sorted(by_query.get(q, []), key=lambda r: r["rank"])
            pred = sorted((r for r in self.predicted if r.query_orig == q), key=lambda r: r.rank)
            same = len(pred) == len(plain) and all(
                (a.rank, a.candidate_id) == (b["rank"], b["candidate_id"])
                and abs(a.faiss_dist - b["faiss_dist"]) <= 1e-6 * max(1.0, abs(a.faiss_dist))
                and a.dl_match is not None
                for a, b in zip(pred, plain)
            )
            if not same:
                failed.append(f"rank_predict: faiss results differ for query {q!r}")
        return failed


def write_model(path: str, titles: list[str], seed: int) -> None:
    """A seeded, untrained siamese-GRU artifact in the library's format
    (the reference's default geometry): ranking cost does not depend on
    the weights, and the benchmark's inputs must not depend on the
    program's training code. The vocabulary holds every token of the
    corpus titles, so no token is dropped at encode time."""
    from deezymatch_spark.api import DEFAULT_TOKENIZE
    from deezymatch_spark.model.numpy_rnn import SiameseRNN
    from deezymatch_spark.model.scorer_udf import save_artifacts
    from deezymatch_spark.text import Vocabulary, normalize_string, string_split

    cfg = dict(DEFAULT_TOKENIZE, architecture="gru", pooling_mode="hstates_layers_simple")
    vocab = Vocabulary()
    for t in titles:
        vocab.add_tokens(string_split(
            normalize_string(t), tokenize=cfg["tokenize"], min_gram=cfg["min_gram"],
            max_gram=cfg["max_gram"], token_sep=cfg["token_sep"],
            prefix_suffix=cfg["prefix_suffix"],
        ))
    model = SiameseRNN.from_seed(
        seed, vocab.n_tok, architecture="gru", hidden_dim=60, embedding_dim=60,
        n_layers=2, pooling_mode="hstates_layers_simple",
    )
    save_artifacts(path, model, vocab.tok2index, cfg)


WORKLOADS = {w.name: w for w in (Er, RankTopk)}

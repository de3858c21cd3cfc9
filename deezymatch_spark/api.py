"""Public API mirroring the reference's surface
(DeezyMatch/__init__.py:1-7: train, finetune, inference, combine_vecs,
candidate_ranker) re-expressed Spark-first.

Division of labor (SURVEY.md §3.1 step 5): Spark does all data-parallel
work — read, label scrub, split, normalize, vocab build, missing-char
filtering, PAIR FEATURIZATION (Arrow UDFs on executors), vector
generation, ranking, and the head fit's IRLS sufficient statistics.
The siamese-encoder BPTT itself runs driver-side over a bounded sample
(``max_encoder_sample``), matching the reference's scale — it trains
~5k pairs (README.md:167-182) while inference is the data-parallel
part. Seed 1364 everywhere (≙ DeezyMatch.py:33).

The r1 design (frozen random encoder + feature head) is gone: ``train``
now fits the encoder by gradient descent (model/train_numpy.py —
Adam, epochs, validation, early stopping W3, per-epoch checkpoints,
rnn_networks.py:160-520) and then fits the combined-feature logistic
head with distributed featurization + IRLS.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.udfs import normalize_series, normalize_udf, tokenize_udf
from .model.numpy_rnn import SiameseRNN
from .model.scorer_udf import (
    _encode_batch,
    encode_vectors,
    load_artifacts,
    make_missing_ratio_udf,
    make_pair_features_udf,
    make_pair_scorer_udf,
    make_score_and_ratio_udf,
    make_store_udf,
    save_artifacts,
)
from .model.train_numpy import fit as _fit_encoder
from .operators.ranker import candidate_ranker as _ranker
from .operators.split import train_val_test_split
from .sources.tsv import read_pairs_tsv
from .text import Vocabulary

SEED = 1364  # DeezyMatch.py:33

__all__ = [
    "train",
    "finetune",
    "inference",
    "combine_vecs",
    "candidate_ranker",
    "candidate_ranker_init",
]

DEFAULT_TOKENIZE = {
    "tokenize": ["char"],
    "min_gram": 1,
    "max_gram": 3,
    "token_sep": "default",
    "prefix_suffix": ["|", "|"],
    "max_seq_len": 120,
}

N_FEATURES = 4  # [gru_cos, jw, levn, jac3]


# ------------------------------------------------------------- head (IRLS)


def _fit_head_spark(
    feats_df: DataFrame,
    *,
    iterations: int = 15,
    l2: float = 1e-6,
    w0: np.ndarray | None = None,
    balanced: bool = True,
) -> tuple[np.ndarray, float]:
    """Distributed IRLS (Newton) logistic regression over
    DataFrame[features array<double>, label int].

    Each iteration is ONE codegen aggregation computing the 5×5
    (features+bias) upper-triangle of XᵀRX plus the 5 gradient sums —
    30 scalar aggregates, broadcast-free, collect of a single row. No
    data rows ever reach the driver, so the fit scales to any pair
    count (this replaces both the r1 driver featurization loop and the
    finetune full-collect). ``w0`` warm-starts (finetune)."""
    d = N_FEATURES + 1  # + bias
    cols = [F.element_at("features", i + 1).alias(f"f{i}") for i in range(N_FEATURES)]
    X = feats_df.select(*cols, F.lit(1.0).alias(f"f{N_FEATURES}"),
                        F.col("label").cast("double").alias("y")).persist()
    counts = X.agg(
        F.count("*").alias("n"), F.sum("y").alias("npos")
    ).collect()[0]
    n, npos = float(counts.n), float(counts.npos or 0.0)
    nneg = n - npos
    if balanced:
        w_pos = n / (2 * max(npos, 1.0))
        w_neg = n / (2 * max(nneg, 1.0))
    else:
        w_pos = w_neg = 1.0

    w = np.zeros(d) if w0 is None else np.asarray(w0, dtype=np.float64).copy()
    for _ in range(iterations):
        z = sum(F.col(f"f{i}") * float(w[i]) for i in range(d))
        z = F.greatest(F.least(z, F.lit(35.0)), F.lit(-35.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        sw = F.when(F.col("y") == 1.0, F.lit(w_pos)).otherwise(F.lit(w_neg))
        r = F.greatest(sw * p * (1.0 - p), F.lit(1e-10))
        aggs = []
        for i in range(d):
            aggs.append(F.sum(F.col(f"f{i}") * sw * (p - F.col("y"))).alias(f"g{i}"))
        for i in range(d):
            for j in range(i, d):
                aggs.append(
                    F.sum(F.col(f"f{i}") * F.col(f"f{j}") * r).alias(f"h{i}_{j}")
                )
        row = X.agg(*aggs).collect()[0].asDict()
        g = np.array([row[f"g{i}"] for i in range(d)]) + l2 * w
        H = np.zeros((d, d))
        for i in range(d):
            for j in range(i, d):
                H[i, j] = H[j, i] = row[f"h{i}_{j}"]
        H += l2 * np.eye(d)
        w -= np.linalg.solve(H, g)
    X.unpersist()
    return w[:-1], float(w[-1])


# ------------------------------------------------------------ driver encode


def _collect_encoded(df: DataFrame, vocab: dict[str, int], cfg: dict, limit: int):
    """Bounded, deterministic collect of (X1, l1, X2, l2, y) for the
    driver-side encoder fit. Tokenization happens here (cheap at the
    bounded size); everything upstream stayed distributed."""
    rows = (
        df.select("original_index", "s1_norm", "s2_norm", "label")
        .orderBy("original_index")
        .limit(limit)
        .collect()
    )
    if not rows:
        # empty split (e.g. every label invalid, or val_prop=0): let
        # callers decide — train treats an empty valid split as
        # "no validation", an empty TRAIN split is a usage error there
        return (np.zeros((0, 1), dtype=np.int64), np.zeros(0, dtype=np.int64),
                np.zeros((0, 1), dtype=np.int64), np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=np.int64))
    X1, l1 = _encode_batch(pd.Series([r.s1_norm for r in rows], dtype=object), vocab, cfg)
    X2, l2 = _encode_batch(pd.Series([r.s2_norm for r in rows], dtype=object), vocab, cfg)
    y = np.array([int(r.label) for r in rows], dtype=np.int64)
    return X1, l1, X2, l2, y


def _head_from_features(spark_df_pairs, artifact_path, *, max_head_sample, w0=None):
    """Distributed featurization (Arrow UDF) + distributed IRLS."""
    feat_udf = make_pair_features_udf(artifact_path)
    feats = (
        spark_df_pairs.select("s1_norm", "s2_norm", F.col("label").cast("int").alias("label"))
        .limit(max_head_sample)
        .select(feat_udf(F.col("s1_norm"), F.col("s2_norm")).alias("features"), "label")
    )
    return _fit_head_spark(feats, w0=w0)


# ------------------------------------------------------------------- train


def train(
    spark: SparkSession,
    dataset: str | DataFrame,
    model_name: str,
    models_dir: str = "models",
    *,
    architecture: str = "gru",
    hidden_dim: int = 60,
    embedding_dim: int = 60,
    n_layers: int = 2,
    pooling_mode: str = "hstates_layers_simple",
    tokenize_cfg: dict | None = None,
    n_train_examples: int | None = None,
    max_head_sample: int = 100_000,
    train_encoder: bool = True,
    epochs: int = 5,
    batch_size: int = 256,
    learning_rate: float = 0.001,
    early_stopping_patience: int | None = None,
    validation: int = 1,
    read_list_chars: list[str] | str | None = None,
    max_encoder_sample: int = 20_000,
    train_prop: float = 0.7,
    val_prop: float = 0.15,
    test_prop: float = 0.15,
    max_vocab_size: int | None = None,
    min_token_freq: int | None = None,
) -> str:
    """→ artifact dir path. ``dataset``: TSV path (reference contract,
    S1) or DataFrame[s1, s2, label, original_index].

    Training defaults mirror input_dfm.yaml: 5 epochs, batch 256, Adam
    lr 0.001, validation every epoch; ``early_stopping_patience`` (W3)
    off by default like the reference's ``-1``. Artifacts written:
    model.npz (best by valid loss), checkpoint{epoch:05d}.npz per
    epoch, log.json (per-epoch metrics rows ≙ log.txt), vocab.json,
    config.json.

    ``read_list_chars`` (S3, data_processing.py:220-226): pre-seed the
    vocabulary with a character list (list of tokens, or a path to a
    JSON list — the reference reads a pickle; pickle is avoided by
    design) so those tokens get the first ids in list order.

    ``max_vocab_size`` / ``min_token_freq`` bound the vocab collect:
    char/ngram vocabs are intrinsically small (the reference's case,
    ~7.5k tokens), but ``tokenize=["word"]`` over a web-scale corpus
    has an unbounded distinct-token set and the driver collect would
    OOM. ``min_token_freq`` drops tokens seen fewer times;
    ``max_vocab_size`` keeps the top-K by (frequency desc, first-seen
    asc) — both applied ON THE EXECUTORS before the collect, so driver
    memory is O(K) regardless of corpus size. Dropped tokens encode as
    _UNK. Defaults (None) preserve exact reference behavior.
    """
    cfg = dict(DEFAULT_TOKENIZE, **(tokenize_cfg or {}))

    pairs = read_pairs_tsv(spark, dataset) if isinstance(dataset, str) else dataset
    # normalized once: the split's two branches, the vocab build, both
    # encoder collects and the head features all read this checkpoint
    pairs = pairs.withColumns(
        {"s1_norm": normalize_udf(F.col("s1")), "s2_norm": normalize_udf(F.col("s2"))}
    ).localCheckpoint()
    pairs = train_val_test_split(
        pairs, label_col="label", order_col="original_index",
        n_train_examples=n_train_examples,
        train_prop=train_prop, val_prop=val_prop, test_prop=test_prop,
    )

    # A2 vocab build over the train split, both columns, insertion order
    # = first occurrence in corpus order (data_processing.py:163-164).
    # Distributed: tokenize on executors, first-seen ordering via a
    # min() over (row, side, position) — only the (small) distinct
    # vocab is collected, never the train rows. A driver-side collect
    # of the split would cap training data at driver memory.
    tk = {k: cfg[k] for k in ("tokenize", "min_gram", "max_gram", "token_sep", "prefix_suffix")}
    tok_udf = tokenize_udf(**tk)
    train_df = pairs.where(F.col("split") == "train")
    val_df = pairs.where(F.col("split") == "val")
    toks = train_df.select(
        "original_index",
        F.posexplode(
            F.concat(tok_udf(F.col("s1_norm")), tok_udf(F.col("s2_norm")))
        ).alias("pos", "token"),
    )
    # first occurrence in corpus order: row-major, s1 tokens before s2
    # within a row (the concat preserves that), position within row.
    # lexicographic struct-min, not arithmetic packing: original_index
    # comes from monotonically_increasing_id (partitionId << 33 | row),
    # so idx * 1e6 + pos would overflow int64 past ~1073 partitions and
    # collide for >1M-token rows; struct comparison has neither failure.
    tok_agg = toks.groupBy("token").agg(
        F.min(F.struct("original_index", "pos")).alias("_fs"),
        F.count("*").alias("_n"),
    )
    if min_token_freq is not None and min_token_freq > 1:
        tok_agg = tok_agg.where(F.col("_n") >= min_token_freq)
    if max_vocab_size is not None:
        # TakeOrderedAndProject: executors each keep K rows, driver
        # merges — the collect is O(max_vocab_size), never corpus-sized
        tok_agg = tok_agg.orderBy(
            F.col("_n").desc(), F.col("_fs").asc()
        ).limit(max_vocab_size)
    first_seen = tok_agg.orderBy("_fs").select("token").collect()
    vocab = Vocabulary(model_name)
    if read_list_chars is not None:
        # S3: seeded chars take the first ids, in list order
        if isinstance(read_list_chars, str):
            with open(read_list_chars) as fh:
                seed_chars = json.load(fh)
        else:
            seed_chars = list(read_list_chars)
        vocab.add_tokens(seed_chars)
    vocab.add_tokens([r.token for r in first_seen])

    model = SiameseRNN.from_seed(
        SEED, vocab.n_tok, architecture=architecture, hidden_dim=hidden_dim,
        embedding_dim=embedding_dim, n_layers=n_layers, pooling_mode=pooling_mode,
    )

    path = os.path.join(models_dir, model_name)
    metrics_rows: list[dict] = []
    if train_encoder and epochs > 0:
        train_data = _collect_encoded(train_df, vocab.tok2index, cfg, max_encoder_sample)
        if not len(train_data[4]):
            raise ValueError(
                "train split is empty — no rows with valid true/false "
                "labels reached the encoder fit"
            )
        val_rows = _collect_encoded(val_df, vocab.tok2index, cfg, max_encoder_sample)
        valid_data = val_rows if len(val_rows[4]) else None
        model, metrics_rows = _fit_encoder(
            model, train_data, valid_data,
            epochs=epochs, batch_size=batch_size, lr=learning_rate, seed=SEED,
            do_validation=validation,
            early_stopping_patience=early_stopping_patience,
            model_path=path,
        )

    cfg["architecture"] = architecture
    cfg["pooling_mode"] = pooling_mode

    # head fit: featurize on executors via a TEMP artifact (a worker
    # that caches the artifact during featurization must never pin a
    # head-less config under the final path)
    tmp = path + ".feat_tmp"
    save_artifacts(tmp, model, vocab.tok2index, cfg)
    try:
        w, b = _head_from_features(train_df, tmp, max_head_sample=max_head_sample)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cfg["head"] = {"coef": w.tolist(), "intercept": float(b)}

    save_artifacts(path, model, vocab.tok2index, cfg)
    if metrics_rows:
        with open(os.path.join(path, "log.json"), "w") as fh:
            json.dump(metrics_rows, fh, indent=1)
    return path


# ----------------------------------------------------------------- finetune


def finetune(
    spark: SparkSession,
    dataset: str | DataFrame,
    model_name: str,
    pretrained_path: str,
    models_dir: str = "models",
    *,
    epochs: int = 5,
    batch_size: int = 256,
    learning_rate: float = 0.001,
    early_stopping_patience: int | None = None,
    validation: int = 1,
    layers_to_freeze: tuple[str, ...] = (),
    missing_char_threshold: float = 0.5,
    max_encoder_sample: int = 20_000,
    max_head_sample: int = 100_000,
) -> str:
    """Continue training from an existing artifact: encoder BPTT
    resumes from the pretrained weights (``layers_to_freeze`` mirrors
    the reference's name-substring freezing, rnn_networks.py:215-222),
    and the head is WARM-STARTED IRLS over distributed features — not
    the r1 coefficient average, and never a full .collect() of the
    dataset.

    P4: rows whose missing-char ratio vs the PRETRAINED vocab exceeds
    ``missing_char_threshold`` on either side are dropped before
    training (data_processing.py:186-205)."""
    model, vocab, cfg = load_artifacts(pretrained_path)
    pairs = read_pairs_tsv(spark, dataset) if isinstance(dataset, str) else dataset
    if "original_index" not in pairs.columns:
        pairs = pairs.withColumn("original_index", F.monotonically_increasing_id())
    # the ratios get their own projection under the filter, as in
    # inference's test mode: nondeterministic only so the optimizer keeps
    # the filter above it; pushed below, it copies normalize_udf into its
    # condition and each string is normalized twice. Checkpointed once:
    # the split's two branches and every later read (both encoder
    # collects, the head features) would each run the UDFs again.
    ratio = make_missing_ratio_udf(pretrained_path).asNondeterministic()
    pairs = (
        pairs.withColumns(
            {"s1_norm": normalize_udf(F.col("s1")), "s2_norm": normalize_udf(F.col("s2"))}
        )
        .withColumns({"_r1": ratio(F.col("s1_norm")), "_r2": ratio(F.col("s2_norm"))})
        .where((F.col("_r1") <= missing_char_threshold) & (F.col("_r2") <= missing_char_threshold))
        .drop("_r1", "_r2")
        .localCheckpoint()
    )
    pairs = train_val_test_split(
        pairs, label_col="label", order_col="original_index"
    )
    train_df = pairs.where(F.col("split") == "train")
    val_df = pairs.where(F.col("split") == "val")

    path = os.path.join(models_dir, model_name)
    metrics_rows: list[dict] = []
    if epochs > 0:
        train_data = _collect_encoded(train_df, vocab, cfg, max_encoder_sample)
        if not len(train_data[4]):
            raise ValueError(
                "finetune train split is empty (all rows invalid-labeled "
                "or dropped by the missing-char filter)"
            )
        val_rows = _collect_encoded(val_df, vocab, cfg, max_encoder_sample)
        valid_data = val_rows if len(val_rows[4]) else None
        model, metrics_rows = _fit_encoder(
            model, train_data, valid_data,
            epochs=epochs, batch_size=batch_size, lr=learning_rate, seed=SEED,
            do_validation=validation,
            early_stopping_patience=early_stopping_patience,
            model_path=path, freeze=tuple(layers_to_freeze),
        )

    cfg = dict(cfg)
    w0 = None
    if "head" in cfg:
        w0 = np.array(list(cfg["head"]["coef"]) + [cfg["head"]["intercept"]])
    tmp = path + ".feat_tmp"
    save_artifacts(tmp, model, vocab, cfg)
    try:
        w, b = _head_from_features(
            train_df, tmp, max_head_sample=max_head_sample, w0=w0
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cfg["head"] = {"coef": w.tolist(), "intercept": float(b)}
    save_artifacts(path, model, vocab, cfg)
    if metrics_rows:
        with open(os.path.join(path, "log.json"), "w") as fh:
            json.dump(metrics_rows, fh, indent=1)
    return path


# ---------------------------------------------------------------- inference


def inference(
    spark: SparkSession,
    artifact_path: str,
    df: DataFrame,
    *,
    inference_mode: str = "test",
    key_col: str = "s1",
    missing_char_threshold: float | None = 0.5,
    cutoff: int | None = None,
) -> DataFrame:
    """mode='vect' (N5): adds key_norm + vec columns — the embedding
    store write (replaces per-batch tensor files, SURVEY.md §3.2).
    mode='test': pair predictions [s1, s2, prediction, p0, p1, label]
    (S7 sink format, rnn_networks.py:640-667).

    Each mode runs ONE Python UDF (one ``ArrowEvalPython`` node, so one
    Python runner per partition) that takes the raw strings, normalizes
    them and runs the model on the same Arrow batch:
    ``scorer_udf.make_store_udf`` for vect, ``make_score_and_ratio_udf``
    for test. The results equal ``normalize_udf`` chained into
    ``make_encode_vec_udf`` (vect) or into the siamese scorer and the
    missing-char ratio (test), row for row.

    P4 (test mode): rows whose missing-char ratio vs the artifact
    vocabulary exceeds ``missing_char_threshold`` on either side are
    dropped (data_processing.py:368-397). Pass None to disable.
    P10 (test mode): ``cutoff`` reproduces the reference's two-step
    slice — ``[:cutoff*2]`` of the input BEFORE the missing-char
    filter, ``[:cutoff]`` after it (data_processing.py:332-335,403).
    Input order = ``original_index`` when present.
    """
    if inference_mode == "vect":
        kv = df.withColumn("_kv", make_store_udf(artifact_path)(F.col(key_col)))
        return kv.withColumns(
            {"key_norm": F.col("_kv.key_norm"), "vec": F.col("_kv.vec")}
        ).drop("_kv")
    ordered = df
    if cutoff is not None:
        if "original_index" in df.columns:
            ordered = df.orderBy("original_index")
        ordered = ordered.limit(cutoff * 2)
    # normalize + score + P4 ratios in ONE fused Arrow pass (a separate
    # ratio UDF re-tokenizes both strings — measured 2x slower end-to-end).
    # Nondeterministic only so the optimizer keeps it in its own Project:
    # a deterministic UDF is copied into the pushed-down ratio filter and
    # the GRU then runs twice per row, in two ArrowEvalPython nodes.
    sr = make_score_and_ratio_udf(artifact_path).asNondeterministic()
    out = ordered.withColumn("_sr", sr(F.col("s1"), F.col("s2")))
    if missing_char_threshold is not None:
        out = out.where(
            (F.col("_sr.ratio1") <= missing_char_threshold)
            & (F.col("_sr.ratio2") <= missing_char_threshold)
        )
    if cutoff is not None:
        if "original_index" in out.columns:
            out = out.orderBy("original_index")
        out = out.limit(cutoff)
    out = out.withColumn("p1", F.col("_sr.p1"))
    return out.select(
        "s1", "s2",
        (F.col("p1") > 0.5).cast("int").alias("prediction"),
        (1.0 - F.col("p1")).alias("p0"),
        "p1",
        *(["label"] if "label" in df.columns else []),
    )


def combine_vecs(*_args, **_kwargs):
    """Eliminated by design: the embedding store is a single columnar
    table written once (S5/S6, SURVEY.md §1.1) — there are no per-batch
    tensor files to glob/sort/concat (combineVecs.py:78-150)."""
    raise NotImplementedError(
        "combine_vecs is unnecessary: inference(mode='vect') writes one "
        "columnar table; query it with ORDER BY id instead."
    )


def _query_store(spark: SparkSession, artifact_path: str, keys: list) -> DataFrame:
    """[id, key, key_norm, vec] for a short raw-string list, encoded on
    the driver: ``normalize_series`` then ``encode_vectors``, the two
    steps of the store UDF. Shipped as one Arrow batch, i.e. one
    partition that the JVM reads without a Python worker (a row list
    would be re-pickled through one)."""
    norms = normalize_series(pd.Series(keys, dtype=object))
    model, vocab, cfg = load_artifacts(artifact_path)
    vecs = encode_vectors(model, vocab, cfg, norms)
    table = pa.table({
        "id": pa.array(range(len(keys)), pa.int64()),
        "key": pa.array(keys, pa.string()),
        "key_norm": pa.array(norms.tolist(), pa.string()),
        "vec": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    return spark.createDataFrame(
        table, "id bigint, key string, key_norm string, vec array<float>"
    )


def candidate_ranker(
    spark: SparkSession,
    queries: DataFrame | None = None,
    candidates: DataFrame | None = None,
    *,
    query: str | list[str] | None = None,
    artifact_path: str | None = None,
    number_test_rows: int = -1,
    **kwargs,
) -> DataFrame:
    """Reference candidate_ranker over embedding-store tables
    [id, key, key_norm, vec]; pass artifact_path to enable the
    conf metric / calc_predict. ``number_test_rows`` > 0 caps the
    query set to its first n rows by id (candidateRanker.py:355-358).

    ``query``: a raw string or list of strings — on-the-fly ranking
    without a pre-built query store (candidateRanker.py:326-334,
    utils_candidate_ranker.py:15-85). The reference spins up a temp
    scenario on disk (tokenize → test_model → combine_vecs → load);
    here the driver normalizes the short list and encodes it with the
    same kernel as the ``inference(mode='vect')`` UDF
    (``scorer_udf.encode_vectors``), producing the identical
    [id, key, key_norm, vec] store as a one-partition DataFrame: no
    Python worker starts for the query side. Takes precedence over
    ``queries`` (reference behavior: the ``query`` branch overrides
    query_scenario). Requires ``artifact_path``. Query ids are the
    list positions 0..n-1, matching the reference's row order."""
    if query is not None:
        if artifact_path is None:
            raise ValueError(
                "on-the-fly query ranking needs artifact_path "
                "(the reference's pretrained_model_path/vocab)"
            )
        qlist = [query] if isinstance(query, str) else list(query)
        if not qlist:
            raise ValueError("query list is empty")
        queries = _query_store(spark, artifact_path, qlist)
    if queries is None or candidates is None:
        raise ValueError("need candidates and either queries or query=[...]")
    scorer = None
    if artifact_path is not None:
        scorer = make_pair_scorer_udf(artifact_path, mode="siamese")
    if number_test_rows and number_test_rows > 0:
        queries = queries.orderBy("id").limit(number_test_rows)
    return _ranker(queries, candidates, pair_scorer=scorer, **kwargs)


class candidate_ranker_init:
    """Parameter-bundle wrapper for :func:`candidate_ranker`
    (candidateRanker.py:42-170, exported in DeezyMatch/__init__.py:6):
    hold the ranking params once, ``.rank()`` to run, ``.set_query()``
    to re-rank with new queries/params without repeating the rest.

    Spark-first deltas from the reference: scenarios are DataFrames
    (``queries``/``candidates`` embedding stores) instead of on-disk
    tensor dirs, the model/vocab pair is one ``artifact_path``, and
    ``rank()`` both stores the result on ``self.output`` (reference
    behavior) and returns it.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        queries: DataFrame | None = None,
        candidates: DataFrame | None = None,
        query: str | list[str] | None = None,
        artifact_path: str | None = None,
        ranking_metric: str = "faiss",
        selection_threshold: float = 0.8,
        num_candidates: int = 10,
        search_size: int = 4,
        length_diff: int | None = None,
        calc_predict: bool = False,
        calc_cosine: bool = False,
        number_test_rows: int = -1,
        **ranker_kwargs,
    ):
        self.spark = spark
        self.queries = queries
        self.candidates = candidates
        self.query = query
        self.artifact_path = artifact_path
        self.ranking_metric = ranking_metric
        self.selection_threshold = selection_threshold
        self.num_candidates = num_candidates
        self.search_size = search_size
        self.length_diff = length_diff
        self.calc_predict = calc_predict
        self.calc_cosine = calc_cosine
        self.number_test_rows = number_test_rows
        self.ranker_kwargs = ranker_kwargs
        self.output: DataFrame | None = None

    def rank(self) -> DataFrame:
        self.output = candidate_ranker(
            self.spark,
            self.queries,
            self.candidates,
            query=self.query,
            artifact_path=self.artifact_path,
            ranking_metric=self.ranking_metric,
            selection_threshold=self.selection_threshold,
            num_candidates=self.num_candidates,
            search_size=self.search_size,
            length_diff=self.length_diff,
            calc_predict=self.calc_predict,
            calc_cosine=self.calc_cosine,
            number_test_rows=self.number_test_rows,
            **self.ranker_kwargs,
        )
        return self.output

    def set_query(
        self,
        query: str | list[str] | None = None,
        queries: DataFrame | None = None,
        ranking_metric: str | None = None,
        selection_threshold: float | None = None,
        num_candidates: int | None = None,
        search_size: int | None = None,
        length_diff: int | None = None,
        calc_predict: bool = False,
        calc_cosine: bool = False,
        number_test_rows: int | None = None,
    ) -> None:
        """Update-and-keep semantics ≙ candidateRanker.py:105-140:
        falsy args leave the stored value — including the calc_*
        flags, which (like the reference's ``if calc_predict:``
        guard) can only be turned ON by set_query, never back off;
        re-instantiate to clear them.

        One deliberate deviation: passing ``queries=`` WITHOUT
        ``query`` clears the stored raw-string query, so the next
        ``rank()`` really uses the new store (in the reference, the
        ``query`` branch takes precedence forever once set — a
        stale-results footgun with no way back)."""
        if query:
            self.query = query
        if queries is not None:
            self.queries = queries
            if not query:
                self.query = None
        if ranking_metric:
            self.ranking_metric = ranking_metric
        if selection_threshold:
            self.selection_threshold = selection_threshold
        if num_candidates:
            self.num_candidates = num_candidates
        if search_size:
            self.search_size = search_size
        if length_diff:
            self.length_diff = length_diff
        if calc_predict:
            self.calc_predict = calc_predict
        if calc_cosine:
            self.calc_cosine = calc_cosine
        if number_test_rows:
            self.number_test_rows = number_test_rows

    def __str__(self) -> str:
        lines = [
            "-------------------------",
            "* Candidate ranker params",
            "-------------------------",
            "",
        ]
        if self.query:
            lines += ["Queries are based on the following list:", f"{self.query}", ""]
        else:
            lines += ["Queries are based on the embedding-store DataFrame", ""]
        lines += [
            "---Searching params---",
            f"num_candidates:\t\t{self.num_candidates}",
            f"ranking_metric:\t\t{self.ranking_metric}",
            f"selection_threshold:\t{self.selection_threshold}",
            f"search_size:\t\t{self.search_size}",
            f"length_diff:\t\t{self.length_diff}",
            f"calc_predict:\t\t{self.calc_predict}",
            f"calc_cosine:\t\t{self.calc_cosine}",
            f"number_test_rows:\t{self.number_test_rows}",
            "---I/O---",
            f"artifact_path:\t\t{self.artifact_path}",
        ]
        return "\n".join(lines)

"""Arrow-batched scorer UDFs — Torch-free inference on executors.

Replaces the reference's DataLoader-batch inference
(rnn_networks.py:525-720) with Scalar-Iterator pandas UDFs: the model
artifact is loaded ONCE per executor python worker (module-level
cache), each Arrow batch is tokenized → encoded → padded → run through
the numpy siamese net (model/numpy_rnn.py). No per-row Python crosses
the JVM boundary; padding lives inside the batch (never a table
column), honoring SURVEY.md §1.1.

The pair UDFs run the recurrence once per DISTINCT string of each side
of an Arrow batch and gather the vectors back to the rows: a ranking
batch pairs a few queries with many candidates, so the query side
collapses to a handful of encodes. ``encode_vectors`` is the store
vector kernel; the store UDF calls it per batch, and
``api.candidate_ranker(query=...)`` calls it on the driver for its
short query list, so a rank request starts no Python worker for the
query side.

The UDFs behind ``api.inference`` take the RAW strings and normalize
inside their own Arrow pass (``normalize_series``), so a store build or
a test-mode scoring runs one Python runner per partition instead of a
``normalize_udf`` runner chained to a scorer runner: each runner costs
a fixed per-task start-up before it sees a row (PLANS.md, "one Python
pass per partition").

Artifacts: a directory with ``model.npz`` (weights), ``vocab.json``
(token→index), ``config.json`` (tokenizer + maxlen + head coefs).
Ship with ``spark-submit --files`` and resolve via SparkFiles, or any
shared filesystem path.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

from ..functions.udfs import normalize_series
from ..text import encode_tokens, missing_char_ratio, pad_sequence, string_split
from .numpy_rnn import SiameseRNN

__all__ = [
    "encode_vectors",
    "load_artifacts",
    "make_encode_vec_udf",
    "make_pair_scorer_udf",
    "make_pair_features_udf",
    "make_missing_ratio_udf",
    "make_score_and_ratio_udf",
    "make_store_udf",
    "pair_p1",
    "save_artifacts",
]

_CACHE: dict[str, tuple[SiameseRNN, dict[str, int], dict]] = {}


def save_artifacts(path: str, model: SiameseRNN, tok2index: dict[str, int], config: dict) -> None:
    os.makedirs(path, exist_ok=True)
    model.save(os.path.join(path, "model.npz"))
    with open(os.path.join(path, "vocab.json"), "w") as f:
        json.dump(tok2index, f)
    with open(os.path.join(path, "config.json"), "w") as f:
        json.dump(config, f)


def load_artifacts(path: str) -> tuple[SiameseRNN, dict[str, int], dict]:
    # cache key includes the config mtime: re-training to the same path
    # in a live session (or a finetune overwriting an artifact) must
    # not serve the stale model from a long-lived python worker
    try:
        mtime = os.path.getmtime(os.path.join(path, "config.json"))
    except OSError:
        mtime = -1.0
    key = f"{path}@{mtime}"
    if key not in _CACHE:
        model = SiameseRNN.load(os.path.join(path, "model.npz"))
        with open(os.path.join(path, "vocab.json")) as f:
            vocab = json.load(f)
        with open(os.path.join(path, "config.json")) as f:
            config = json.load(f)
        # drop only superseded versions of THIS artifact (other models
        # may be live in the same worker, e.g. ranker A + scorer B)
        for k in [k for k in _CACHE if k.startswith(f"{path}@")]:
            del _CACHE[k]
        _CACHE[key] = (model, vocab, config)
    return _CACHE[key]


def _tokenized(s, vocab, cfg) -> Iterator[tuple[int, list[int]]]:
    """(token count, encoded ids) per string of ``s``: the artifact's
    ``string_split`` tokenization, then ``encode_tokens`` (unknown
    tokens dropped). None tokenizes as the empty string."""
    tk = {
        "tokenize": cfg.get("tokenize", ["char"]),
        "min_gram": cfg.get("min_gram", 1),
        "max_gram": cfg.get("max_gram", 3),
        "token_sep": cfg.get("token_sep", "default"),
        "prefix_suffix": cfg.get("prefix_suffix", ["|", "|"]),
    }
    for x in s:
        toks = string_split(x if x is not None else "", **tk)
        yield len(toks), encode_tokens(toks, vocab)


def _encode_batch(
    s: pd.Series, vocab, cfg, return_ratio: bool = False
):
    """Tokenize → encode → pad one Arrow batch. With ``return_ratio``
    also emits the P4 missing-char ratio per row (computed from the
    SAME tokenization pass — a separate ratio UDF would double the
    Python tokenization work, measured 2x slower end-to-end)."""
    maxlen = cfg.get("max_seq_len", 120)
    rows, lens, ratios = [], [], []
    for n_toks, idx in _tokenized(s, vocab, cfg):
        if return_ratio:
            ratios.append(missing_char_ratio(len(idx), n_toks))
        padded, n = pad_sequence(idx, maxlen)
        rows.append(padded)
        lens.append(max(n, 1))  # packed seqs need len >= 1; all-pad row is inert
    X, L = np.stack(rows), np.asarray(lens, dtype=np.int64)
    if return_ratio:
        return X, L, np.asarray(ratios)
    return X, L


# poolings whose per-row output is independent of the batch max length
# (h_n-based). average/max/attention pool over the PADDED time axis
# (torch adaptive-pool parity, numpy_rnn._pool), so their results depend
# on T and must not be re-batched.
_HSTATES_POOLINGS = frozenset({
    "hstates", "hstates_layers", "hstates_layers_simple",
    "hstates_subtract", "hstates_l2_distance", "hstates_cosine",
})

_CHUNK = 1024


def _by_length(fn, X, lens):
    """Length-sorted chunked ``fn(X, lens)`` for a per-row encoder:
    recurrence cost is B×T_batchmax, so sorting rows by length before
    chunking cuts padded steps ~2x on mixed-length batches. Only for
    outputs that don't depend on batch composition (h_n-based)."""
    n = len(lens)
    if n <= _CHUNK:
        return fn(X, lens)
    order = np.argsort(lens, kind="stable")
    out = None
    for s in range(0, n, _CHUNK):
        idx = order[s:s + _CHUNK]
        v = fn(X[idx], lens[idx])
        if out is None:
            out = np.empty((n, v.shape[1]), dtype=v.dtype)
        out[idx] = v
    return out


def _batch_encode(model, X, lens):
    """Store vectors (encode() returns h_n only, so chunking is
    semantics-free)."""
    return _by_length(model.encode, X, lens)


def _batch_pooled(model, X, lens):
    """Pair-side pooled vectors; T-dependent poolings run unchunked to
    preserve the reference's padded-pool semantics."""
    if model.pooling in _HSTATES_POOLINGS:
        return _by_length(model.pooled, X, lens)
    return model.pooled(X, lens)


def encode_vectors(model, vocab, cfg, s: pd.Series) -> np.ndarray:
    """Normalized strings → float32 store vectors [n, 2H] (N5): the
    one kernel behind the store and vect UDFs and the driver-side query
    encoding of ``api.candidate_ranker(query=...)``."""
    X, lens = _encode_batch(s, vocab, cfg)
    return np.asarray(_batch_encode(model, X, lens), dtype=np.float32)


def _side(kernel, model, vocab, cfg, s: pd.Series, return_ratio: bool = False):
    """``kernel(model, X, lens)`` over each distinct string of one pair
    side, gathered back to the rows. A ranking batch repeats each query
    once per candidate, so this skips most of the recurrence. Exact for
    every pooling: the longest row survives the dedup, so the batch max
    length T that average/max/attention pool over does not change."""
    first: dict = {}
    inv = np.fromiter(
        (first.setdefault(x, len(first)) for x in s), dtype=np.int64, count=len(s)
    )
    enc = _encode_batch(pd.Series(list(first), dtype=object), vocab, cfg, return_ratio)
    v = kernel(model, enc[0], enc[1])[inv]
    return (v, enc[2][inv]) if return_ratio else v


def pair_p1(model, vocab, cfg, s1: pd.Series, s2: pd.Series) -> np.ndarray:
    """Siamese match probability p1 per (s1, s2) row."""
    v1 = _side(_batch_pooled, model, vocab, cfg, s1)
    v2 = _side(_batch_pooled, model, vocab, cfg, s2)
    return np.asarray(model.head(v1, v2)[1], dtype=np.float64)


def make_encode_vec_udf(artifact_path: str):
    """(key_norm) → array<float> of dim 2H (fwd‖bwd h_n) — N5."""

    @pandas_udf(ArrayType(FloatType()))
    def encode_vec(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model, vocab, cfg = load_artifacts(artifact_path)
        for s in batches:
            yield pd.Series(list(encode_vectors(model, vocab, cfg, s)))

    return encode_vec


def make_store_udf(artifact_path: str):
    """(key) → struct<key_norm string, vec array<float>>: the embedding
    store's two derived columns from ONE Arrow pass — ``normalize_series``
    then ``encode_vectors`` on the same batch. Equal, row for row, to
    ``normalize_udf`` chained into ``make_encode_vec_udf``, which costs
    two Python runners per partition and ships every key across the
    JVM↔Python boundary twice. A None key keeps key_norm None and gets
    the empty string's vector, as in the chained form."""
    schema = StructType([
        StructField("key_norm", StringType()),
        StructField("vec", ArrayType(FloatType())),
    ])

    @pandas_udf(schema)
    def store_vec(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        model, vocab, cfg = load_artifacts(artifact_path)
        for s in batches:
            norm = normalize_series(s)
            yield pd.DataFrame({
                "key_norm": norm.to_numpy(),
                "vec": list(encode_vectors(model, vocab, cfg, norm)),
            })

    return store_vec


def make_pair_scorer_udf(artifact_path: str, mode: str = "combined"):
    """(s1_norm, s2_norm) → double match probability p1.

    mode='siamese': pure siamese classify p1 (reference conf metric,
    D3 / rnn_networks.py:390-392).
    mode='combined': logistic head over [gru_cosine, jaro_winkler,
    normalized levenshtein, 3gram jaccard] (north_rule scorer) —
    head coefficients from config['head'] (train via api.train).
    """

    @pandas_udf(DoubleType())
    def score_pairs(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        model, vocab, cfg = load_artifacts(artifact_path)
        for s1, s2 in it:
            if mode == "siamese":
                yield pd.Series(pair_p1(model, vocab, cfg, s1, s2))
                continue
            feats = _pair_features(model, vocab, cfg, s1, s2)
            coefs = np.asarray(cfg["head"]["coef"], dtype=np.float64)
            b = float(cfg["head"]["intercept"])
            z = feats @ coefs + b
            yield pd.Series(1.0 / (1.0 + np.exp(-z)))

    return score_pairs


def make_score_and_ratio_udf(artifact_path: str):
    """(s1, s2) RAW strings → struct<p1 double, ratio1 double,
    ratio2 double>: siamese match probability plus both sides' P4
    missing-char ratios, normalized (``normalize_series``, the mapping
    of ``normalize_udf``) and tokenized in ONE pass per Arrow batch.
    The inference test path filters on the ratios and keeps p1 — fusing
    avoids a second tokenization (2x end-to-end) and the separate
    ``normalize_udf`` runner per partition."""
    schema = StructType([
        StructField("p1", DoubleType()),
        StructField("ratio1", DoubleType()),
        StructField("ratio2", DoubleType()),
    ])

    @pandas_udf(schema)
    def score_and_ratio(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        model, vocab, cfg = load_artifacts(artifact_path)
        for s1, s2 in it:
            n1, n2 = normalize_series(s1), normalize_series(s2)
            v1, r1 = _side(_batch_pooled, model, vocab, cfg, n1, return_ratio=True)
            v2, r2 = _side(_batch_pooled, model, vocab, cfg, n2, return_ratio=True)
            _, p1, _ = model.head(v1, v2)
            yield pd.DataFrame({
                "p1": np.asarray(p1, dtype=np.float64),
                "ratio1": r1,
                "ratio2": r2,
            })

    return score_and_ratio


def make_pair_features_udf(artifact_path: str):
    """(s1_norm, s2_norm) → array<double> [gru_cos, jw, levn, jac3] —
    the head's feature vector, computed ON EXECUTORS (Arrow-batched).
    Replaces the r1 driver-side per-row featurization loop: the only
    thing the head fit ever collects is 4 doubles per sampled row (or
    nothing at all with the distributed IRLS in api._fit_head_spark)."""

    @pandas_udf(ArrayType(DoubleType()))
    def pair_features(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        model, vocab, cfg = load_artifacts(artifact_path)
        for s1, s2 in it:
            yield pd.Series(list(_pair_features(model, vocab, cfg, s1, s2)))

    return pair_features


def make_missing_ratio_udf(artifact_path: str):
    """(s_norm) → double missing-char ratio
    ``1 - len(encoded)/max(1, len(tokens))`` vs the artifact's vocab
    (P4, data_processing.py:368-397) — unknown tokens are dropped by
    encode_tokens, so the ratio measures how much of the string the
    pretrained vocabulary cannot represent."""

    @pandas_udf(DoubleType())
    def missing_ratio(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        _, vocab, cfg = load_artifacts(artifact_path)
        for s in batches:
            # no tokens (empty string) → ratio 1.0: the reference
            # removes empty rows too
            yield pd.Series(np.fromiter(
                (missing_char_ratio(len(idx), n) for n, idx in _tokenized(s, vocab, cfg)),
                dtype=np.float64, count=len(s),
            ))

    return missing_ratio


def _pair_features(model, vocab, cfg, s1: pd.Series, s2: pd.Series) -> np.ndarray:
    """[gru_cos, jw, 1 - lev/maxlen, jaccard3] per pair."""
    from ..functions.udfs import jaro_winkler

    v1 = _side(_batch_encode, model, vocab, cfg, s1)
    v2 = _side(_batch_encode, model, vocab, cfg, s2)
    num = (v1 * v2).sum(axis=1)
    den = np.maximum(np.linalg.norm(v1, axis=1) * np.linalg.norm(v2, axis=1), 1e-10)
    cos = num / den
    n = len(s1)
    jw = np.empty(n)
    levn = np.empty(n)
    jac = np.empty(n)
    a_list = s1.tolist()
    b_list = s2.tolist()
    for i in range(n):
        a = a_list[i] or ""
        b = b_list[i] or ""
        jw[i] = jaro_winkler(a, b)
        levn[i] = 1.0 - _levenshtein(a, b) / max(len(a), len(b), 1)
        ga = {a[j : j + 3] for j in range(max(len(a) - 2, 0))}
        gb = {b[j : j + 3] for j in range(max(len(b) - 2, 0))}
        jac[i] = len(ga & gb) / max(len(ga | gb), 1)
    return np.column_stack([cos, jw, levn, jac])


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]

"""The pair scorers encode each distinct string of a side once per Arrow
batch and gather the vectors back to the rows. These tests pin that
the dedup is exact for every pooling, that the one-row-per-call oracle
path is bit-identical to per-row ``classify``, and that the gathered
missing-char ratios and pair features match the un-deduplicated ones."""

import numpy as np
import pandas as pd
import pytest

from deezymatch_spark.model.numpy_rnn import SiameseRNN
from deezymatch_spark.model.scorer_udf import (
    _CHUNK,
    _HSTATES_POOLINGS,
    _batch_encode,
    _encode_batch,
    _pair_features,
    _side,
    pair_p1,
)

POOLINGS = [
    "hstates", "hstates_layers", "hstates_layers_simple", "hstates_subtract",
    "hstates_l2_distance", "hstates_cosine", "average", "max", "attention",
]
CFG = {"tokenize": ["char"], "max_seq_len": 40, "prefix_suffix": ["|", "|"]}
VOCAB = {c: i + 1 for i, c in enumerate("|abcdefghijklmnopqrstuvwxyz ")}
LONGEST = "the longest string of them all by far"


def _sides():
    """A few queries repeated against many candidates. The candidate
    side has more than _CHUNK distinct strings, so the length-sorted
    chunking runs too; both sides repeat the longest string and hold a
    None and an ''."""
    rng = np.random.Generator(np.random.Philox(5))
    words = sorted({"".join(rng.choice(list("abcdefghij"), size=int(n)))
                    for n in rng.integers(3, 20, size=_CHUNK + 200)})
    assert len(words) > _CHUNK
    s2 = words + words[:300]
    rng.shuffle(s2)
    s2[7] = s2[900] = LONGEST
    s2[11], s2[12] = None, ""
    left = [LONGEST, "london", None, "", "paris"]
    s1 = [left[i % len(left)] for i in range(len(s2))]
    return pd.Series(s1, dtype=object), pd.Series(s2, dtype=object)


def _model(pooling):
    return SiameseRNN.from_seed(
        31, len(VOCAB) + 1, hidden_dim=8, embedding_dim=6, n_layers=2,
        pooling_mode=pooling, fc1_out=10,
    )


@pytest.mark.parametrize("pooling", POOLINGS)
def test_dedup_scores_match_undeduplicated_classify(pooling):
    model = _model(pooling)
    s1, s2 = _sides()
    got = pair_p1(model, VOCAB, CFG, s1, s2)
    X1, l1 = _encode_batch(s1, VOCAB, CFG)
    X2, l2 = _encode_batch(s2, VOCAB, CFG)
    # the whole batch in one call: T is the batch max length, as the
    # Arrow batch sees it
    _, want, _ = model.classify(X1, l1, X2, l2)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-6)
    if pooling in _HSTATES_POOLINGS:
        # h-state poolings do not depend on the batch, so each row
        # must also match its own one-row classify
        for i in (0, 1, 2, 3, 7, 11, 12, 900, len(s1) - 1):
            _, p1, _ = model.classify(X1[i:i + 1], l1[i:i + 1], X2[i:i + 1], l2[i:i + 1])
            assert abs(got[i] - p1[0]) <= 1e-6


@pytest.mark.parametrize("pooling", ["hstates_layers_simple", "average", "attention"])
def test_one_row_calls_are_bit_identical(pooling):
    """The oracle scores one pair per call; that path must walk exactly
    the float path of a one-row ``classify``."""
    model = _model(pooling)
    for a, b in [("london", "londen"), (None, "x"), ("", ""), (LONGEST, "paris")]:
        got = pair_p1(model, VOCAB, CFG, pd.Series([a]), pd.Series([b]))
        X1, l1 = _encode_batch(pd.Series([a if a is not None else ""]), VOCAB, CFG)
        X2, l2 = _encode_batch(pd.Series([b if b is not None else ""]), VOCAB, CFG)
        _, want, _ = model.classify(X1, l1, X2, l2)
        np.testing.assert_array_equal(got, np.asarray(want, dtype=np.float64))


def test_gathered_ratios_and_features_match():
    model = _model("hstates_layers_simple")
    vocab = {k: v for k, v in VOCAB.items() if k not in "xyz"}  # some misses
    s1, s2 = _sides()
    s2[3] = "xyzzy"
    _, r = _side(_batch_encode, model, vocab, CFG, s2, return_ratio=True)
    np.testing.assert_array_equal(r, _encode_batch(s2, vocab, CFG, return_ratio=True)[2])

    got = _pair_features(model, vocab, CFG, s1, s2)
    X1, l1 = _encode_batch(s1, vocab, CFG)
    X2, l2 = _encode_batch(s2, vocab, CFG)
    v1, v2 = _batch_encode(model, X1, l1), _batch_encode(model, X2, l2)
    cos = (v1 * v2).sum(axis=1) / np.maximum(
        np.linalg.norm(v1, axis=1) * np.linalg.norm(v2, axis=1), 1e-10
    )
    np.testing.assert_allclose(got[:, 0], cos, rtol=0, atol=1e-6)

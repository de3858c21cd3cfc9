"""Gradient-training tests (the reference's core capability,
rnn_networks.py:160-520):

1. analytic gradients match finite differences (float64) for every
   architecture on representative poolings;
2. the transliteration gate: a task where JW/Levenshtein and the
   FROZEN random encoder both fail (F1 < 0.9) but the TRAINED encoder
   reaches pairwise F1 >= 0.99;
3. early stopping (W3): patience triggers, the best-valid-loss
   weights are restored, per-epoch checkpoints + best.npz exist;
4. Adam freezing (finetune's layers_to_freeze);
5. deterministic metrics: two runs of the tiny fixture fit are
   bit-identical (what the train_metrics driver oracle relies on).
"""

import os

import numpy as np
import pytest

from deezymatch_spark.model.fixtures import (
    FIXTURE_VOCAB,
    encode_pairs,
    tiny_fit_metrics,
    translit_pairs,
)
from deezymatch_spark.model.numpy_rnn import SiameseRNN
from deezymatch_spark.model.train_numpy import (
    Adam,
    classify_loss,
    fit,
    forward_backward,
)


def _f1(y_true, y_pred):
    tp = int(((y_true == 1) & (y_pred == 1)).sum())
    fp = int(((y_true == 0) & (y_pred == 1)).sum())
    fn = int(((y_true == 1) & (y_pred == 0)).sum())
    return 2 * tp / max(2 * tp + fp + fn, 1)


# ------------------------------------------------------------- gradcheck


_GRADCHECK = [
    ("gru", "hstates_layers_simple", True),
    ("gru", "hstates", True),
    ("gru", "attention", True),
    ("lstm", "hstates_layers", True),
    ("lstm", "average", True),
    ("rnn", "max", True),
    ("rnn", "hstates_subtract", True),
    ("gru", "hstates_l2_distance", True),
    ("gru", "hstates_layers_simple", False),
    ("lstm", "attention", False),
]


@pytest.mark.parametrize(
    "arch,pooling,bidi",
    _GRADCHECK,
    ids=[f"{a}-{p}" + ("" if b else "-unidirectional") for a, p, b in _GRADCHECK],
)
def test_gradients_match_finite_differences(arch, pooling, bidi):
    rng = np.random.Generator(np.random.Philox(7))
    V, H, E, B, T = 12, 5, 4, 6, 7
    m = SiameseRNN.from_seed(
        7, V, architecture=arch, hidden_dim=H, embedding_dim=E,
        n_layers=2, bidirectional=bidi, pooling_mode=pooling, fc1_out=8,
    )
    m.w = {k: v.astype(np.float64) for k, v in m.w.items()}
    X1 = rng.integers(1, V, (B, T))
    X2 = rng.integers(1, V, (B, T))
    l1 = rng.integers(2, T + 1, B)
    l2 = rng.integers(2, T + 1, B)
    y = rng.integers(0, 2, B)
    loss, p1, _, grads = forward_backward(m, X1, l1, X2, l2, y)
    # the training step (both sides stacked into one batch for h-state
    # poolings) must equal the per-side inference forward — both probs
    # and the evaluation loss, which the finite differences below read
    _, p1_inf, _ = m.classify(X1, l1, X2, l2)
    assert np.allclose(p1, p1_inf, atol=1e-9)
    loss_eval, p1_eval, _ = classify_loss(m, X1, l1, X2, l2, y)
    assert abs(loss - loss_eval) < 1e-9
    assert np.allclose(p1, p1_eval, atol=1e-9)
    for name in sorted(grads):
        W = m.w[name]
        G = np.asarray(grads[name], dtype=np.float64)
        for _ in range(3):
            ix = tuple(rng.integers(0, s) for s in W.shape)
            eps = 1e-6
            orig = W[ix]
            W[ix] = orig + eps
            lp, _, _ = classify_loss(m, X1, l1, X2, l2, y)
            W[ix] = orig - eps
            lm, _, _ = classify_loss(m, X1, l1, X2, l2, y)
            W[ix] = orig
            num = (lp - lm) / (2 * eps)
            assert abs(num - G[ix]) <= 1e-6 * max(1.0, abs(num), abs(G[ix])), (
                name, ix, num, G[ix],
            )


# ------------------------------------------------- the transliteration gate


def test_trained_encoder_beats_string_features_on_translit():
    """JW/Lev can't see through a substitution cipher; the trained
    siamese GRU can. This is what distinguishes a LEARNED matcher from
    the r1 frozen-encoder + string-feature head."""
    from deezymatch_spark.functions.udfs import jaro_winkler

    test_pairs = translit_pairs(400, seed=99)
    # (a) string features alone: best possible JW-threshold F1 < 0.9
    jws = np.array([jaro_winkler(a, b) for a, b, _ in test_pairs])
    ys = np.array([y for _, _, y in test_pairs])
    best_jw_f1 = max(
        _f1(ys, (jws >= th).astype(int)) for th in np.linspace(0, 1, 101)
    )
    assert best_jw_f1 < 0.9, f"fixture too easy for JW ({best_jw_f1:.3f})"

    test = encode_pairs(test_pairs)
    model_cfg = dict(
        architecture="gru", hidden_dim=48, embedding_dim=24,
        n_layers=1, pooling_mode="hstates", fc1_out=48,
    )
    # (b) frozen random encoder fails too
    frozen = SiameseRNN.from_seed(1364, len(FIXTURE_VOCAB) + 2, **model_cfg)
    _, _, pred_frozen = classify_loss(frozen, *test)
    assert _f1(test[4], pred_frozen) < 0.9

    # (c) trained encoder crosses the acceptance bar
    train = encode_pairs(translit_pairs(3000, seed=7))
    valid = encode_pairs(translit_pairs(400, seed=8))
    model = SiameseRNN.from_seed(1364, len(FIXTURE_VOCAB) + 2, **model_cfg)
    best, rows = fit(
        model, train, valid, epochs=40, batch_size=64, lr=0.002,
        early_stopping_patience=10,
    )
    _, _, pred = classify_loss(best, *test)
    f1 = _f1(test[4], pred)
    assert f1 >= 0.99, f"trained F1 {f1:.4f} (JW best {best_jw_f1:.3f})"
    assert any(r["phase"] == "valid" for r in rows)


# ------------------------------------------------------------- early stop


def test_early_stopping_restores_best_and_checkpoints(tmp_path):
    """Random labels → validation loss cannot keep improving; patience
    must trigger, the returned model must carry the best-epoch weights,
    and per-epoch + best artifacts must exist (rnn_networks.py:467-507)."""
    rng = np.random.Generator(np.random.Philox(3))
    pairs = [(a, b, int(rng.integers(0, 2))) for a, b, _ in translit_pairs(200, seed=5)]
    train = encode_pairs(pairs)
    valid = encode_pairs(
        [(a, b, int(rng.integers(0, 2))) for a, b, _ in translit_pairs(80, seed=6)]
    )
    model = SiameseRNN.from_seed(
        11, len(FIXTURE_VOCAB) + 2, architecture="gru", hidden_dim=12,
        embedding_dim=8, n_layers=1, pooling_mode="hstates", fc1_out=12,
    )
    mp = str(tmp_path / "ckpts")
    best, rows = fit(
        model, train, valid, epochs=30, batch_size=64, lr=0.01,
        early_stopping_patience=2, model_path=mp,
    )
    stop_rows = [r for r in rows if r["phase"] == "early_stop"]
    assert stop_rows, "early stopping never triggered on random labels"
    sel = stop_rows[0]["selected_epoch"]
    stopped_at = stop_rows[0]["epoch"]
    assert sel < stopped_at <= 30
    # returned weights == the best epoch's checkpoint weights
    ck = SiameseRNN.load(os.path.join(mp, f"checkpoint{sel:05d}.npz"))
    for k in best.w:
        assert np.array_equal(best.w[k], ck.w[k]), k
    assert os.path.exists(os.path.join(mp, "best.npz"))
    # the best valid loss in the log matches the selected epoch
    vrows = {r["epoch"]: r["loss"] for r in rows if r["phase"] == "valid"}
    assert min(vrows, key=lambda e: (vrows[e], e)) == sel or vrows[sel] == min(vrows.values())


def test_adam_freeze_keeps_named_params_fixed():
    model = SiameseRNN.from_seed(
        5, len(FIXTURE_VOCAB) + 2, architecture="gru", hidden_dim=8,
        embedding_dim=6, n_layers=1, pooling_mode="hstates", fc1_out=8,
    )
    train = encode_pairs(translit_pairs(64, seed=1))
    before = {k: v.copy() for k, v in model.w.items()}
    fit(model, train, None, epochs=1, batch_size=32, freeze=("emb", "l0d0"))
    for k in model.w:
        if "emb" in k or "l0d0" in k:
            assert np.array_equal(model.w[k], before[k]), f"{k} moved while frozen"
        elif k.startswith("fc"):
            assert not np.array_equal(model.w[k], before[k]), f"{k} never updated"


# ------------------------------------------------------------ determinism


def test_tiny_fit_metrics_bit_deterministic():
    a = tiny_fit_metrics()
    b = tiny_fit_metrics()
    assert a == b
    assert any(r["phase"] == "valid" for r in a)
    assert all(np.isfinite(r["loss"]) for r in a)

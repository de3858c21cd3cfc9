"""Gradient training (BPTT) for the pure-NumPy siamese RNN.

Re-implements the reference's training stack without torch
(absent in this environment):

- forward = ``numpy_rnn.SiameseRNN``'s own ``_encode_all`` → ``_pool``
  → ``head``, the code inference runs, called with a ``cache`` dict
  that records the per-step values reverse-mode differentiation reads
  (this module writes only the loss and the backward pass);
- loss = ``nn.CrossEntropyLoss(weight=[1,1], reduction='mean')`` over
  the 2-class logits (rnn_networks.py:164-171);
- optimizer = Adam (rnn_networks.py:147-151; lr default 0.001,
  input_dfm.yaml:75);
- ``fit`` mirrors the reference control flow
  (rnn_networks.py:301-520): per-epoch train metrics (loss, acc,
  precision, recall, macro/weighted F1 — rnn_networks.py:415-419),
  validation every ``do_validation`` epochs, best-model tracking on
  ``valid_loss <= es_loss`` (ties refresh the checkpoint and reset the
  counter, :467-474), early stop after ``patience`` non-improving
  validations saving the best model (W3, :476-507), per-epoch
  checkpoint artifacts ``checkpoint{epoch:05d}.npz`` (:495-503).

Deviations (documented, deliberate):
- batch shuffling uses numpy Philox(seed) instead of torch's global
  RNG (not reproducible without torch);
- dropout defaults to 0 (reference default is noise-level 0.01;
  inverted fc-dropout is available via ``fc_dropout``);
- ``hstates_cosine`` pooling has no trainable loss path in the
  reference either (its "logits" are cosine values) — fit rejects it.

Scale note (SURVEY.md §3.1): the encoder fit runs driver-side over a
bounded sample — the reference trains ~5k pairs (README.md:167-182);
Spark does everything data-parallel (label scrub, split, vocab,
featurization, inference). Distributed data never streams through
this module unbounded.
"""

from __future__ import annotations

import os

import numpy as np

from .numpy_rnn import _GATES, COMBINE_4X, SiameseRNN

__all__ = ["Adam", "fit", "classify_loss", "forward_backward"]


# ---------------------------------------------------------------- optimizer


class Adam:
    """Standard Adam (Kingma & Ba), matching torch.optim.Adam defaults."""

    def __init__(self, params: dict[str, np.ndarray], lr: float = 0.001,
                 betas=(0.9, 0.999), eps: float = 1e-8,
                 freeze: tuple[str, ...] = ()):
        self.p = params
        self.lr = lr
        self.b1, self.b2 = betas
        self.eps = eps
        self.t = 0
        self.freeze = tuple(freeze)
        self.m = {k: np.zeros_like(v) for k, v in params.items()}
        self.v = {k: np.zeros_like(v) for k, v in params.items()}

    def _frozen(self, name: str) -> bool:
        return any(f in name for f in self.freeze)

    def step(self, grads: dict[str, np.ndarray]) -> None:
        self.t += 1
        bc1 = 1.0 - self.b1 ** self.t
        bc2 = 1.0 - self.b2 ** self.t
        for k, g in grads.items():
            if k not in self.p or self._frozen(k):
                continue
            self.m[k] = self.b1 * self.m[k] + (1 - self.b1) * g
            self.v[k] = self.b2 * self.v[k] + (1 - self.b2) * g * g
            self.p[k] -= (
                self.lr * (self.m[k] / bc1) / (np.sqrt(self.v[k] / bc2) + self.eps)
            ).astype(self.p[k].dtype)


# ------------------------------------------------------------ backward


def _backward_direction(model: SiameseRNN, cache, douts, dh_final, layer, d, grads):
    """Reverse the recurrence; accumulates weight grads into ``grads``
    and returns d(inp)."""
    inp = cache["inp"]
    lengths = cache["lengths"]
    B, T, _ = inp.shape
    H = model.hidden
    p = f"l{layer}d{d}"
    Wih, Whh = model.w[f"{p}_Wih"], model.w[f"{p}_Whh"]
    dt = model.w["emb"].dtype
    g_n = _GATES[model.arch]
    dgi_all = np.zeros((B, T, g_n * H), dtype=dt)
    dgh_all = np.zeros((B, T, g_n * H), dtype=dt)
    dh = dh_final.astype(dt).copy()
    dc = np.zeros((B, H), dtype=dt)
    for t in range(T - 1, -1, -1):
        m = (t < lengths)[:, None]
        dh2 = (douts[:, t] + dh) * m
        dh_carry = dh * ~m
        if model.arch == "gru":
            r, z = cache["r"][:, t], cache["z"][:, t]
            n, ghn = cache["n"][:, t], cache["ghn"][:, t]
            hprev = cache["hprev"][:, t]
            dn = dh2 * (1 - z)
            dz = dh2 * (hprev - n)
            dh_gate = dh2 * z
            dpre_n = dn * (1 - n * n)
            dgh_n = dpre_n * r
            dr = dpre_n * ghn
            dpre_r = dr * r * (1 - r)
            dpre_z = dz * z * (1 - z)
            dgi = np.concatenate([dpre_r, dpre_z, dpre_n], axis=1)
            dgh = np.concatenate([dpre_r, dpre_z, dgh_n], axis=1)
            dh = dh_carry + dh_gate + dgh @ Whh
        elif model.arch == "lstm":
            i, f = cache["i"][:, t], cache["f"][:, t]
            g, o = cache["g"][:, t], cache["o"][:, t]
            cprev, cnew = cache["cprev"][:, t], cache["cnew"][:, t]
            tc = np.tanh(cnew)
            dc_in = dc * m
            dc_carry = dc * ~m
            do = dh2 * tc
            dcn = dc_in + dh2 * o * (1 - tc * tc)
            df = dcn * cprev
            di = dcn * g
            dg = dcn * i
            dc = dc_carry + dcn * f
            dpre_i = di * i * (1 - i)
            dpre_f = df * f * (1 - f)
            dpre_g = dg * (1 - g * g)
            dpre_o = do * o * (1 - o)
            dgi = np.concatenate([dpre_i, dpre_f, dpre_g, dpre_o], axis=1)
            dgh = dgi
            dh = dh_carry + dgh @ Whh
        else:
            h2 = cache["h2"][:, t]
            dpre = dh2 * (1 - h2 * h2)
            dgi = dpre
            dgh = dpre
            dh = dh_carry + dgh @ Whh
        dgi_all[:, t] = dgi
        dgh_all[:, t] = dgh
    grads[f"{p}_Wih"] = grads.get(f"{p}_Wih", 0) + np.einsum(
        "btg,btd->gd", dgi_all, inp, optimize=True
    )
    grads[f"{p}_bih"] = grads.get(f"{p}_bih", 0) + dgi_all.sum((0, 1))
    grads[f"{p}_Whh"] = grads.get(f"{p}_Whh", 0) + np.einsum(
        "btg,bth->gh", dgh_all, cache["hprev"], optimize=True
    )
    grads[f"{p}_bhh"] = grads.get(f"{p}_bhh", 0) + dgh_all.sum((0, 1))
    return dgi_all @ Wih


def _pool_backward(model: SiameseRNN, side, dv):
    """→ (douts [B,T,H*dirs] or None, dh_n dict, attn_grads dict)."""
    outputs = side["outputs"]
    last = model.n_layers - 1
    H = model.hidden
    p = model.pooling
    dh_n: dict[tuple[int, int], np.ndarray] = {}
    attn_grads: dict[str, np.ndarray] = {}
    if p == "attention":
        a1, wts = side["attn_a1"], side["attn_wts"]
        dwts = (dv[:, None, :] * outputs).sum(axis=2)
        douts = wts[:, :, None] * dv[:, None, :]
        dlog = wts * (dwts - (dwts * wts).sum(axis=1, keepdims=True))
        attn_grads["attn2_W"] = np.einsum(
            "bt,bte->e", dlog, a1, optimize=True
        )[None, :]
        attn_grads["attn2_b"] = np.array([dlog.sum()], dtype=dlog.dtype)
        da1 = dlog[:, :, None] * model.w["attn2_W"][0]
        da1 = da1 * (a1 > 0)
        attn_grads["attn1_W"] = np.einsum(
            "bte,bth->eh", da1, outputs, optimize=True
        )
        attn_grads["attn1_b"] = da1.sum((0, 1))
        douts = douts + da1 @ model.w["attn1_W"]
        return douts, dh_n, attn_grads
    if p == "average":
        T = outputs.shape[1]
        douts = np.broadcast_to(dv[:, None, :] / T, outputs.shape).astype(outputs.dtype)
        return douts, dh_n, attn_grads
    if p in ("max", "maximum"):
        douts = np.zeros_like(outputs)
        B, D = dv.shape
        bi = np.arange(B)[:, None]
        di = np.arange(D)[None, :]
        douts[bi, side["max_idx"], di] = dv
        return douts, dh_n, attn_grads
    if p == "hstates":
        dh_n[(last, 0)] = dv[:, :H]
        if model.bidi:
            dh_n[(last, 1)] = dv[:, H:]
        return None, dh_n, attn_grads
    # hstates_layers family: fwd layers 0..L then bwd layers 0..L
    for layer in range(model.n_layers):
        dh_n[(layer, 0)] = dv[:, layer * H:(layer + 1) * H]
    if model.bidi:
        off = model.n_layers * H
        for layer in range(model.n_layers):
            dh_n[(layer, 1)] = dv[:, off + layer * H: off + (layer + 1) * H]
    return None, dh_n, attn_grads


def _side_backward(model: SiameseRNN, side, dv, grads):
    """Backprop one encoded side down to the embedding table."""
    douts, dh_n, attn_grads = _pool_backward(model, side, dv)
    for k, g in attn_grads.items():
        grads[k] = grads.get(k, 0) + g
    H = model.hidden
    lengths = side["lengths"]
    dcur = douts  # grad wrt top layer's concat outputs (may be None)
    for layer in range(model.n_layers - 1, -1, -1):
        cf, cb = side["layers"][layer]
        B, T, _ = cf["inp"].shape
        if dcur is None:
            dcur = np.zeros(
                (B, T, H * (2 if model.bidi else 1)),
                dtype=model.w["emb"].dtype,
            )
        d_f = np.ascontiguousarray(dcur[:, :, :H])
        dh_f = dh_n.get((layer, 0), np.zeros((B, H), dtype=model.w["emb"].dtype))
        dinp = _backward_direction(model, cf, d_f, dh_f, layer, 0, grads)
        if model.bidi:
            d_b = SiameseRNN._reverse_padded(
                np.ascontiguousarray(dcur[:, :, H:]), lengths
            )
            dh_b = dh_n.get((layer, 1), np.zeros((B, H), dtype=model.w["emb"].dtype))
            dinp_rev = _backward_direction(model, cb, d_b, dh_b, layer, 1, grads)
            dinp = dinp + SiameseRNN._reverse_padded(dinp_rev, lengths)
        dcur = dinp
    # embedding scatter-add
    demb = grads.get("emb")
    if demb is None or np.isscalar(demb):
        demb = np.zeros_like(model.w["emb"])
    np.add.at(demb, side["X"].reshape(-1),
              dcur.reshape(-1, dcur.shape[-1]))
    grads["emb"] = demb


# --------------------------------------------------------- classify fwd/bwd


def _cached_side(model: SiameseRNN, X, lengths):
    """One side's pooled vector via the inference forward, and the
    BPTT cache that forward filled."""
    side: dict = {}
    return model._pool(*model._encode_all(X, lengths, side), side), side


def _cross_entropy(p0, p1, y) -> float:
    """Batch-mean CE of the 2-class softmax (clamped at 1e-12)."""
    p_true = np.where(np.asarray(y, dtype=np.int64) == 1, p1, p0)
    return float(-np.log(np.maximum(p_true, 1e-12)).mean())


def forward_backward(model: SiameseRNN, X1, l1, X2, l2, y):
    """One training step's forward and backward.

    Returns (loss, p1, pred, grads) where grads maps weight name →
    gradient of the mean cross-entropy over the batch.
    """
    p = model.pooling
    if p == "hstates_cosine":
        raise ValueError("hstates_cosine has no trainable CE path "
                         "(its outputs are cosine values, not logits)")
    # For h-state pooling families the siamese sides share every weight
    # AND the pooled vector is invariant to trailing padding (masking
    # carries h unchanged past a row's length), so encode both sides as
    # ONE stacked batch of 2B rows: half the sequential per-timestep
    # loop iterations, double the rows per gemm. Gradient accumulation
    # is linear in batch rows, so one stacked backward == the sum of two
    # side backwards (finite-diff-checked per arch × pooling). The
    # output-sequence poolings (attention/average/max) are NOT
    # padding-length-invariant — their softmax/mean/argmax run over
    # padded positions, mirroring the reference's torch behavior — so
    # stacking to the joint t_max would change their numerics vs the
    # inference forward; they keep the per-side passes.
    stacked = p not in ("attention", "average", "max", "maximum")
    if stacked:
        B1 = len(np.atleast_1d(l1))
        X1 = np.asarray(X1)
        X2 = np.asarray(X2)
        w = max(X1.shape[1], X2.shape[1])
        if X1.shape[1] != w:
            X1 = np.pad(X1, ((0, 0), (0, w - X1.shape[1])))
        if X2.shape[1] != w:
            X2 = np.pad(X2, ((0, 0), (0, w - X2.shape[1])))
        v12, s12 = _cached_side(
            model,
            np.concatenate([X1, X2], axis=0),
            np.concatenate([np.atleast_1d(l1), np.atleast_1d(l2)], axis=0),
        )
        v1, v2 = v12[:B1], v12[B1:]
    else:
        v1, s1 = _cached_side(model, X1, l1)
        v2, s2 = _cached_side(model, X2, l2)
    head: dict = {}
    p0, p1, pred = model.head(v1, v2, head)
    loss = _cross_entropy(p0, p1, y)

    grads: dict[str, np.ndarray] = {}
    B = len(y)
    dlogits = head["sm"].copy()
    dlogits[np.arange(B), np.asarray(y, dtype=np.int64)] -= 1.0
    dlogits /= B
    y1 = head["fc1"]
    grads["fc2_W"] = dlogits.T @ y1
    grads["fc2_b"] = dlogits.sum(0)
    dy1 = dlogits @ model.w["fc2_W"]
    dz1 = dy1 * (y1 > 0)
    grads["fc1_W"] = dz1.T @ head["combined"]
    grads["fc1_b"] = dz1.sum(0)
    dcomb = dz1 @ model.w["fc1_W"]
    D = v1.shape[1]
    if p in COMBINE_4X:
        dv1 = dcomb[:, :D] + dcomb[:, 2 * D:3 * D] * v2 + dcomb[:, 3 * D:]
        dv2 = dcomb[:, D:2 * D] + dcomb[:, 2 * D:3 * D] * v1 - dcomb[:, 3 * D:]
    elif p == "hstates_layers_simple":
        dv1 = dcomb[:, :D]
        dv2 = dcomb[:, D:]
    elif p == "hstates_subtract":
        s = np.sign(v1 - v2)
        dv1 = -dcomb * s
        dv2 = dcomb * s
    else:  # hstates_l2_distance
        diff = v1 - v2
        dv1 = -2.0 * dcomb * diff
        dv2 = 2.0 * dcomb * diff
    dt = model.w["emb"].dtype
    if stacked:
        _side_backward(
            model, s12, np.concatenate([dv1, dv2], axis=0).astype(dt), grads
        )
    else:
        _side_backward(model, s1, dv1.astype(dt), grads)
        _side_backward(model, s2, dv2.astype(dt), grads)
    return loss, p1, pred, grads


def classify_loss(model: SiameseRNN, X1, l1, X2, l2, y):
    """Evaluation loss + predictions (no grads): the training forward
    without a cache, so no per-step BPTT values are kept."""
    if model.pooling == "hstates_cosine":
        raise ValueError("hstates_cosine has no CE loss path")
    p0, p1, pred = model.classify(X1, l1, X2, l2)
    return _cross_entropy(p0, p1, y), p1, pred


# -------------------------------------------------------------- metrics


def _binary_metrics(y_true, y_pred):
    y_true = np.asarray(y_true)
    y_pred = np.asarray(y_pred)
    acc = float((y_true == y_pred).mean()) if len(y_true) else 0.0

    def prf(pos):
        tp = int(((y_true == pos) & (y_pred == pos)).sum())
        fp = int(((y_true != pos) & (y_pred == pos)).sum())
        fn = int(((y_true == pos) & (y_pred != pos)).sum())
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        return prec, rec, f1, int((y_true == pos).sum())

    p1, r1, f1_1, n1 = prf(1)
    _, _, f1_0, n0 = prf(0)
    macro = (f1_0 + f1_1) / 2
    weighted = (f1_0 * n0 + f1_1 * n1) / max(n0 + n1, 1)
    return {"acc": acc, "precision": p1, "recall": r1,
            "macro_f1": macro, "weighted_f1": weighted}


# ------------------------------------------------------------------ fit


def _eval_loss(model, data, batch_size):
    """Mean of batch-mean CE over batches (total_loss_test/len(dl),
    rnn_networks.py:576-607,662)."""
    X1, l1, X2, l2, y = data
    losses, preds = [], []
    for s in range(0, len(y), batch_size):
        sl = slice(s, s + batch_size)
        loss, _, pred = classify_loss(model, X1[sl], l1[sl], X2[sl], l2[sl], y[sl])
        losses.append(loss)
        preds.append(pred)
    m = _binary_metrics(y, np.concatenate(preds) if preds else np.array([]))
    return float(np.mean(losses)) if losses else 0.0, m


def fit(
    model: SiameseRNN,
    train_data,
    valid_data=None,
    *,
    epochs: int = 5,
    batch_size: int = 256,
    lr: float = 0.001,
    seed: int = 1364,
    do_validation: int = 1,
    early_stopping_patience: int | None = None,
    model_path: str | None = None,
    freeze: tuple[str, ...] = (),
    verbose: bool = False,
):
    """Train in place; returns (best_model, metrics_rows).

    ``train_data``/``valid_data`` are 5-tuples (X1, len1, X2, len2, y)
    of numpy arrays. Control flow mirrors rnn_networks.fit:301-520 —
    see module docstring. ``metrics_rows`` is the log.txt equivalent:
    one dict per (epoch, phase).
    """
    if do_validation == -1:
        do_validation = 1
    if do_validation == 0:
        do_validation = epochs + 2  # reference: effectively never
    rng = np.random.Generator(np.random.Philox(seed))
    opt = Adam(model.w, lr=lr, freeze=freeze)
    X1, l1, X2, l2, y = train_data
    n = len(y)
    metrics_rows = []
    es_loss = None
    es_weights = None
    es_checkpoint = 0
    es_counter = 0
    for epoch in range(epochs):
        perm = rng.permutation(n)
        losses = []
        yt, yp = [], []
        for s in range(0, n, batch_size):
            idx = perm[s:s + batch_size]
            loss, _, pred, grads = forward_backward(
                model, X1[idx], l1[idx], X2[idx], l2[idx], y[idx]
            )
            opt.step(grads)
            losses.append(loss)
            yt.append(y[idx])
            yp.append(pred)
        m = _binary_metrics(np.concatenate(yt), np.concatenate(yp))
        train_loss = float(np.mean(losses))
        metrics_rows.append({"epoch": epoch + 1, "phase": "train",
                             "loss": train_loss, **m})
        if verbose:
            print(f"epoch {epoch + 1}/{epochs} train loss {train_loss:.4f} "
                  f"acc {m['acc']:.3f} f1 {m['macro_f1']:.3f}")

        if valid_data is not None and ((epoch + 1) % do_validation) == 0:
            v_loss, vm = _eval_loss(model, valid_data, batch_size)
            metrics_rows.append({"epoch": epoch + 1, "phase": "valid",
                                 "loss": v_loss, **vm})
            if verbose:
                print(f"  valid loss {v_loss:.4f} acc {vm['acc']:.3f}")
            # reference: `valid_loss <= es_loss` refreshes the best
            # checkpoint AND resets the patience counter (ties count
            # as improvement, rnn_networks.py:467-474)
            if es_loss is None or v_loss <= es_loss:
                es_loss = v_loss
                es_weights = {k: v.copy() for k, v in model.w.items()}
                es_checkpoint = epoch + 1
                es_counter = 0
            else:
                es_counter += 1
            if early_stopping_patience and es_counter >= early_stopping_patience:
                if model_path:
                    _save_ckpt(model, es_weights, model_path, "best")
                metrics_rows.append({"epoch": epoch + 1, "phase": "early_stop",
                                     "loss": es_loss, "acc": 0.0,
                                     "precision": 0.0, "recall": 0.0,
                                     "macro_f1": 0.0, "weighted_f1": 0.0,
                                     "selected_epoch": es_checkpoint})
                return _restore(model, es_weights), metrics_rows
        if model_path:
            _save_ckpt(model, model.w, model_path, f"checkpoint{epoch + 1:05d}")
    if es_weights is not None:
        if model_path:
            _save_ckpt(model, es_weights, model_path, "best")
        return _restore(model, es_weights), metrics_rows
    return model, metrics_rows


def _restore(model: SiameseRNN, weights) -> SiameseRNN:
    best = SiameseRNN(
        weights, architecture=model.arch, hidden_dim=model.hidden,
        embedding_dim=model.emb_dim, n_layers=model.n_layers,
        bidirectional=model.bidi, pooling_mode=model.pooling,
    )
    return best


def _save_ckpt(model, weights, model_path, name):
    os.makedirs(model_path, exist_ok=True)
    _restore(model, weights).save(os.path.join(model_path, f"{name}.npz"))

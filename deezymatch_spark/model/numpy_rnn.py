"""Siamese bi-RNN encoder/classifier in pure NumPy.

Numerically reproduces the reference's ``two_parallel_rnns``
(DeezyMatch/rnn_networks.py:753-1116) at inference time, using the
PyTorch cell equations and packed-sequence semantics:

- GRU:  r=σ(W_ir x+b_ir+W_hr h+b_hr), z=σ(...), n=tanh(W_in x+b_in+
  r*(W_hn h+b_hn)), h'=(1-z)n+z h  (torch.nn.GRU docs)
- LSTM: i,f,g,o gates, c'=f*c+i*g, h'=o*tanh(c')
- RNN:  h'=tanh(W x+b+U h+b)
- packed sequences: steps at t ≥ len(row) do not update h (h_n is the
  state after exactly len steps); the backward direction reads each
  row's valid prefix reversed (rnn_networks.py:878-890 uses
  pack_padded_sequence for both directions).
- pooling: 'hstates' (last layer h_n fwd‖bwd), 'hstates_layers[_simple]'
  (all layers concat), 'average'/'max' (adaptive pool over outputs),
  'hstates_subtract' / 'hstates_l2_distance' / 'hstates_cosine'
  (rnn_networks.py:920-1099); combine ops per family
  (rnn_networks.py:1062-1099); fc1 relu → fc2 (rnn_networks.py:1100-1102).
- vector-generation mode returns the final-layer h_n per direction
  (rnn_networks.py:891-918), concatenated fwd‖bwd downstream exactly as
  candidateRanker.py:313,350.

Training (model/train_numpy.py) runs this same forward —
``_encode_all`` → ``_pool`` → ``head`` — with a ``cache`` dict that
records the per-step values its BPTT backward reads; every inference
call passes no cache.

Since torch is absent in this environment, weights are either loaded
from an .npz artifact or initialized deterministically from a seed with
torch's init distribution (U(-1/sqrt(H), 1/sqrt(H)) for RNN mats,
N(0,1) for embeddings). Dropout is irrelevant at inference
(evaluation=True zeroes it in the reference too, rnn_networks.py:867-872).
"""

from __future__ import annotations

import numpy as np

__all__ = ["SiameseRNN"]


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


_GATES = {"gru": 3, "lstm": 4, "rnn": 1}

# the per-step values ``_gate_step`` returns next to (h, c), by name:
# what a BPTT cache records and the backward pass reads
GATE_CACHE = {
    "gru": ("r", "z", "n", "ghn"),
    "lstm": ("i", "f", "g", "o", "cprev", "cnew"),
    "rnn": ("h2",),
}

# poolings whose head combines the two sides as [v1, v2, v1*v2, v1-v2]
COMBINE_4X = ("attention", "average", "max", "maximum", "hstates", "hstates_layers")


class SiameseRNN:
    def __init__(
        self,
        weights: dict[str, np.ndarray],
        *,
        architecture: str = "gru",
        hidden_dim: int = 60,
        embedding_dim: int = 60,
        n_layers: int = 2,
        bidirectional: bool = True,
        pooling_mode: str = "hstates_layers_simple",
    ):
        self.w = {k: np.asarray(v, dtype=np.float32) for k, v in weights.items()}
        self.arch = architecture.lower()
        self.hidden = hidden_dim
        self.emb_dim = embedding_dim
        self.n_layers = n_layers
        self.bidi = bidirectional
        self.pooling = pooling_mode

    # ---------------------------------------------------------- init

    @classmethod
    def from_seed(
        cls,
        seed: int,
        vocab_size: int,
        *,
        architecture: str = "gru",
        hidden_dim: int = 60,
        embedding_dim: int = 60,
        n_layers: int = 2,
        bidirectional: bool = True,
        pooling_mode: str = "hstates_layers_simple",
        fc1_out: int = 120,
        output_dim: int = 2,
    ) -> "SiameseRNN":
        rng = np.random.Generator(np.random.Philox(seed))
        g = _GATES[architecture.lower()]
        k = 1.0 / np.sqrt(hidden_dim)
        w = {"emb": rng.standard_normal((vocab_size, embedding_dim))}
        dirs = 2 if bidirectional else 1
        for layer in range(n_layers):
            inp = embedding_dim if layer == 0 else hidden_dim * dirs
            for d in range(dirs):
                p = f"l{layer}d{d}"
                w[f"{p}_Wih"] = rng.uniform(-k, k, (g * hidden_dim, inp))
                w[f"{p}_Whh"] = rng.uniform(-k, k, (g * hidden_dim, hidden_dim))
                w[f"{p}_bih"] = rng.uniform(-k, k, g * hidden_dim)
                w[f"{p}_bhh"] = rng.uniform(-k, k, g * hidden_dim)
        mult = {
            "attention": 4, "average": 4, "max": 4, "maximum": 4, "hstates": 4,
            "hstates_layers": 4 * n_layers,
            "hstates_layers_simple": 2 * n_layers,
            "hstates_subtract": n_layers,
            "hstates_l2_distance": n_layers,
            "hstates_cosine": 1,
        }[pooling_mode]
        fc1_in = hidden_dim * mult * dirs
        kf = 1.0 / np.sqrt(fc1_in)
        w["fc1_W"] = rng.uniform(-kf, kf, (fc1_out, fc1_in))
        w["fc1_b"] = rng.uniform(-kf, kf, fc1_out)
        k2 = 1.0 / np.sqrt(fc1_out)
        w["fc2_W"] = rng.uniform(-k2, k2, (output_dim, fc1_out))
        w["fc2_b"] = rng.uniform(-k2, k2, output_dim)
        # attention MLP (rnn_networks.py:843-846) — created for every
        # pooling mode like the reference; drawn last so the rng stream
        # for the other parameters is unchanged
        a_in = hidden_dim * dirs
        ka = 1.0 / np.sqrt(a_in)
        w["attn1_W"] = rng.uniform(-ka, ka, (embedding_dim, a_in))
        w["attn1_b"] = rng.uniform(-ka, ka, embedding_dim)
        ka2 = 1.0 / np.sqrt(embedding_dim)
        w["attn2_W"] = rng.uniform(-ka2, ka2, (1, embedding_dim))
        w["attn2_b"] = rng.uniform(-ka2, ka2, 1)
        return cls(
            w, architecture=architecture, hidden_dim=hidden_dim,
            embedding_dim=embedding_dim, n_layers=n_layers,
            bidirectional=bidirectional, pooling_mode=pooling_mode,
        )

    def save(self, path: str) -> None:
        meta = np.array(
            [self.hidden, self.emb_dim, self.n_layers, int(self.bidi)], dtype=np.int64
        )
        np.savez(
            path, __meta__=meta,
            __arch__=np.array(self.arch), __pool__=np.array(self.pooling),
            **self.w,
        )

    # torch state_dict key ↔ our weight-name mapping for
    # two_parallel_rnns (rnn_networks.py:753-860): emb.weight,
    # rnn_1.{weight,bias}_{ih,hh}_l{k}[_reverse], attn_step{1,2}.*,
    # fc{1,2}.*. Gate order matches torch (GRU r,z,n; LSTM i,f,g,o).
    @classmethod
    def from_torch_state_dict(
        cls,
        state: dict[str, np.ndarray],
        *,
        architecture: str,
        pooling_mode: str,
        bidirectional: bool = True,
    ) -> "SiameseRNN":
        """Build from a torch ``state_dict`` whose tensors were exported
        to numpy (e.g. by tools/import_torch_state_dict.py on a machine
        that has torch — this container doesn't). Enables loading
        reference-trained weights for numeric parity runs."""
        w: dict[str, np.ndarray] = {"emb": np.asarray(state["emb.weight"])}
        n_layers = 0
        while f"rnn_1.weight_ih_l{n_layers}" in state:
            n_layers += 1
        dirs = 2 if bidirectional else 1
        for k in range(n_layers):
            for d in range(dirs):
                suf = "_reverse" if d == 1 else ""
                p = f"l{k}d{d}"
                w[f"{p}_Wih"] = np.asarray(state[f"rnn_1.weight_ih_l{k}{suf}"])
                w[f"{p}_Whh"] = np.asarray(state[f"rnn_1.weight_hh_l{k}{suf}"])
                w[f"{p}_bih"] = np.asarray(state[f"rnn_1.bias_ih_l{k}{suf}"])
                w[f"{p}_bhh"] = np.asarray(state[f"rnn_1.bias_hh_l{k}{suf}"])
        for ours, theirs in (
            ("fc1", "fc1"), ("fc2", "fc2"),
            ("attn1", "attn_step1"), ("attn2", "attn_step2"),
        ):
            w[f"{ours}_W"] = np.asarray(state[f"{theirs}.weight"])
            w[f"{ours}_b"] = np.asarray(state[f"{theirs}.bias"])
        hidden = w["l0d0_Whh"].shape[1]
        emb_dim = w["emb"].shape[1]
        return cls(
            w, architecture=architecture, hidden_dim=hidden,
            embedding_dim=emb_dim, n_layers=n_layers,
            bidirectional=bidirectional, pooling_mode=pooling_mode,
        )

    def to_torch_state_dict(self) -> dict[str, np.ndarray]:
        """Inverse of from_torch_state_dict (round-trip tested)."""
        state = {"emb.weight": self.w["emb"]}
        dirs = 2 if self.bidi else 1
        for k in range(self.n_layers):
            for d in range(dirs):
                suf = "_reverse" if d == 1 else ""
                p = f"l{k}d{d}"
                state[f"rnn_1.weight_ih_l{k}{suf}"] = self.w[f"{p}_Wih"]
                state[f"rnn_1.weight_hh_l{k}{suf}"] = self.w[f"{p}_Whh"]
                state[f"rnn_1.bias_ih_l{k}{suf}"] = self.w[f"{p}_bih"]
                state[f"rnn_1.bias_hh_l{k}{suf}"] = self.w[f"{p}_bhh"]
        for ours, theirs in (
            ("fc1", "fc1"), ("fc2", "fc2"),
            ("attn1", "attn_step1"), ("attn2", "attn_step2"),
        ):
            state[f"{theirs}.weight"] = self.w[f"{ours}_W"]
            state[f"{theirs}.bias"] = self.w[f"{ours}_b"]
        return state

    @classmethod
    def load(cls, path: str) -> "SiameseRNN":
        z = np.load(path, allow_pickle=False)
        meta = z["__meta__"]
        w = {k: z[k] for k in z.files if not k.startswith("__")}
        return cls(
            w,
            architecture=str(z["__arch__"]),
            hidden_dim=int(meta[0]), embedding_dim=int(meta[1]),
            n_layers=int(meta[2]), bidirectional=bool(meta[3]),
            pooling_mode=str(z["__pool__"]),
        )

    # ------------------------------------------------------- recurrence

    def _gate_step(self, gi, h, c, Whh, bhh):
        """One timestep → (h', c', gates): ``gates`` are the values
        ``GATE_CACHE[arch]`` names, already computed for h'."""
        gh = h @ Whh.T + bhh
        H = self.hidden
        if self.arch == "gru":
            r = _sigmoid(gi[:, :H] + gh[:, :H])
            z = _sigmoid(gi[:, H : 2 * H] + gh[:, H : 2 * H])
            ghn = gh[:, 2 * H :]
            n = np.tanh(gi[:, 2 * H :] + r * ghn)
            return (1 - z) * n + z * h, c, (r, z, n, ghn)
        if self.arch == "lstm":
            i = _sigmoid(gi[:, :H] + gh[:, :H])
            f = _sigmoid(gi[:, H : 2 * H] + gh[:, H : 2 * H])
            g = np.tanh(gi[:, 2 * H : 3 * H] + gh[:, 2 * H : 3 * H])
            o = _sigmoid(gi[:, 3 * H :] + gh[:, 3 * H :])
            c2 = f * c + i * g
            return o * np.tanh(c2), c2, (i, f, g, o, c, c2)
        h2 = np.tanh(gi + gh)  # vanilla rnn
        return h2, c, (h2,)

    def _run_direction(self, inp, lengths, layer, d, cache=None):
        """inp [B,T,D] already direction-adjusted; returns (outputs
        [B,T,H] aligned to inp order, h_n [B,H]).

        The input-to-hidden projection for ALL timesteps is one batched
        matmul hoisted out of the recurrence — only the (small)
        hidden-to-hidden matmul stays in the loop.

        ``cache`` is None at inference. A training step passes a dict,
        which receives what the BPTT backward reads: ``inp``,
        ``lengths``, ``hprev`` (the state entering each step) and one
        [B,T,H] array per ``GATE_CACHE[arch]`` gate value."""
        B, T, _ = inp.shape
        H = self.hidden
        p = f"l{layer}d{d}"
        Wih, Whh = self.w[f"{p}_Wih"], self.w[f"{p}_Whh"]
        bih, bhh = self.w[f"{p}_bih"], self.w[f"{p}_bhh"]
        dt = self.w["emb"].dtype  # float32 in production
        gi_all = inp @ Wih.T + bih  # [B,T,g*H]
        h = np.zeros((B, H), dtype=dt)
        c = np.zeros((B, H), dtype=dt)
        outs = np.zeros((B, T, H), dtype=dt)
        if cache is not None:
            names = ("hprev",) + GATE_CACHE[self.arch]
            cache.update(inp=inp, lengths=lengths)
            cache.update({nm: np.zeros((B, T, H), dtype=dt) for nm in names})
        for t in range(T):
            h2, c2, gates = self._gate_step(gi_all[:, t, :], h, c, Whh, bhh)
            if cache is not None:
                for nm, v in zip(names, (h,) + gates):
                    cache[nm][:, t] = v
            mask = (t < lengths)[:, None]
            h = np.where(mask, h2, h)
            c = np.where(mask, c2, c)
            outs[:, t, :] = np.where(mask, h2, 0.0)
        return outs, h

    @staticmethod
    def _reverse_padded(x, lengths):
        """Reverse each row's valid prefix (packed-seq backward read) —
        vectorized gather, no per-row loop."""
        B, T = x.shape[0], x.shape[1]
        ar = np.arange(T)
        idx = np.where(
            ar[None, :] < lengths[:, None], lengths[:, None] - 1 - ar[None, :],
            ar[None, :],
        )
        return x[np.arange(B)[:, None], idx]

    def _encode_all(self, X, lengths, cache=None):
        """→ (outputs [B,T,H*dirs], h_n dict[(layer,dir)] = [B,H], lengths).

        T is truncated to the batch max length — exactly torch's
        pack_padded/pad_packed semantics (the reference's pooled
        outputs have T = batch max, rnn_networks.py:878-890), and ~6x
        fewer recurrence steps when rows are much shorter than the
        config maxlen.

        With a ``cache`` dict (training), it receives the truncated
        token ids ``X``, ``lengths`` and ``layers``: per layer the
        (forward, backward) ``_run_direction`` caches."""
        lengths = np.asarray(lengths, dtype=np.int64)
        t_max = max(int(lengths.max(initial=1)), 1)
        if t_max < X.shape[1]:
            X = X[:, :t_max]
        if cache is not None:
            cache.update(X=X, lengths=lengths, layers=[])
        inp = self.w["emb"][X]  # [B,T,E]
        h_n: dict[tuple[int, int], np.ndarray] = {}
        for layer in range(self.n_layers):
            cf, cb = (None, None) if cache is None else ({}, {})
            out_f, h_f = self._run_direction(inp, lengths, layer, 0, cf)
            h_n[(layer, 0)] = h_f
            if self.bidi:
                rev = self._reverse_padded(inp, lengths)
                out_b_rev, h_b = self._run_direction(rev, lengths, layer, 1, cb)
                out_b = self._reverse_padded(out_b_rev, lengths)
                h_n[(layer, 1)] = h_b
                inp = np.concatenate([out_f, out_b], axis=2)
            else:
                inp = out_f
            if cache is not None:
                cache["layers"].append((cf, cb))
        return inp, h_n, lengths

    # ---------------------------------------------------------- public

    def encode(self, X, lengths):
        """Vector-generation mode (N5): final-layer h_n fwd‖bwd → [B, 2H]
        (fwd-only [B,H] if unidirectional)."""
        _, h_n, _ = self._encode_all(X, lengths)
        last = self.n_layers - 1
        if self.bidi:
            return np.concatenate([h_n[(last, 0)], h_n[(last, 1)]], axis=1)
        return h_n[(last, 0)]

    def _pool(self, outputs, h_n, lengths, cache=None):
        """One side's pooled vector. A training ``cache`` receives the
        ``outputs`` and what their pooling's backward reads: the
        attention activations ``attn_a1`` and weights ``attn_wts``, or
        the max-pool argmax ``max_idx``."""
        last = self.n_layers - 1
        p = self.pooling
        if cache is not None:
            cache["outputs"] = outputs
        if p == "attention":
            # per-timestep 2-layer MLP → softmax over TIME → weighted
            # sum of outputs (rnn_networks.py:920-940). The reference
            # does NOT mask padded steps: their rnn_out rows are zeros
            # (pad_packed), so their attention logit is the bias path —
            # reproduced exactly (outputs beyond length are zeroed in
            # _run_direction).
            a1 = np.maximum(outputs @ self.w["attn1_W"].T + self.w["attn1_b"], 0.0)
            logits = (a1 @ self.w["attn2_W"].T + self.w["attn2_b"])[:, :, 0]  # [B,T]
            logits = logits - logits.max(axis=1, keepdims=True)
            e = np.exp(logits)
            wts = e / e.sum(axis=1, keepdims=True)
            if cache is not None:
                cache.update(attn_a1=a1, attn_wts=wts)
            return (wts[:, :, None] * outputs).sum(axis=1)
        if p in ("average", "max", "maximum"):
            # adaptive pool over the TIME axis of padded outputs — the
            # reference pools over pad_packed_sequence output whose T is
            # the batch max length, zeros beyond each row's length
            if p == "average":
                return outputs.sum(axis=1) / outputs.shape[1]
            if cache is not None:
                cache["max_idx"] = outputs.argmax(axis=1)
            return outputs.max(axis=1)
        if p == "hstates":
            v = h_n[(last, 0)]
            if self.bidi:
                v = np.concatenate([v, h_n[(last, 1)]], axis=1)
            return v
        # hstates_layers family: fwd layers 0..L then bwd layers 0..L
        v = np.concatenate([h_n[(l, 0)] for l in range(self.n_layers)], axis=1)
        if self.bidi:
            vb = np.concatenate([h_n[(l, 1)] for l in range(self.n_layers)], axis=1)
            v = np.concatenate([v, vb], axis=1)
        return v

    def pooled(self, X, lengths):
        """One siamese side's pooled vector (the input to ``head``).

        h-state poolings give each row a vector that does not depend on
        the rest of the batch. average/max/attention pool over the
        padded time axis, whose length is the batch max length, so a
        row's vector depends on the longest row it is batched with."""
        return self._pool(*self._encode_all(X, lengths))

    def head(self, v1, v2, cache=None):
        """Combine two sides' pooled vectors and classify (N1-N4):
        → (p0, p1, pred) arrays. Softmax over the 2 fc2 logits;
        p1 = match confidence. A training ``cache`` receives the
        ``combined`` vector, the fc1 activation ``fc1`` and the softmax
        ``sm`` (not filled for ``hstates_cosine``, which has no fc
        layers)."""
        p = self.pooling
        if p in COMBINE_4X:
            combined = np.concatenate([v1, v2, v1 * v2, v1 - v2], axis=1)
        elif p == "hstates_layers_simple":
            combined = np.concatenate([v1, v2], axis=1)
        elif p == "hstates_subtract":
            combined = 1.0 - np.abs(v1 - v2)
        elif p == "hstates_l2_distance":
            combined = 1.0 - np.abs(v1 - v2) ** 2
        elif p == "hstates_cosine":
            num = (v1 * v2).sum(axis=1)
            den = np.maximum(
                np.linalg.norm(v1, axis=1) * np.linalg.norm(v2, axis=1), 1e-10
            )
            cos = num / den
            p1 = cos
            p0 = 1.0 - cos
            return p0, p1, (p1 > p0).astype(np.int64)
        else:
            raise ValueError(f"pooling_mode {p} not supported")
        y = np.maximum(combined @ self.w["fc1_W"].T + self.w["fc1_b"], 0.0)
        logits = y @ self.w["fc2_W"].T + self.w["fc2_b"]
        logits = logits - logits.max(axis=1, keepdims=True)
        e = np.exp(logits)
        sm = e / e.sum(axis=1, keepdims=True)
        if cache is not None:
            cache.update(combined=combined, fc1=y, sm=sm)
        return sm[:, 0], sm[:, 1], sm.argmax(axis=1)

    def classify(self, X1, len1, X2, len2):
        """Pair classification: ``head`` over both sides' ``pooled``."""
        return self.head(self.pooled(X1, len1), self.pooled(X2, len2))

"""Word-level LSTM language model — the S6/M1 trained-weights completion.

The reference applies a separately-trained LSTM LM as a frozen per-token
featurizer: ``RNNModel('LSTM', ntoken, ninp, nhid, nlayers)`` (model.py:7-41)
whose ``forward`` returns the LSTM hidden states — the decoder head is
training-only and commented out at featurize time (model.py:44-50); features
are attached per token in utils.py:421-447. The pretrained blob is
Dropbox-only (README.md:45-51), so this module trains an equivalent LM from
scratch on the shipped corpora:

  * input embedding — ``neural.word_vectors``: the corpus-trained skip-gram
    table (``word2vec.train_skipgram``) with deterministic hash fallback for
    OOV, the same input path the tagger uses, so the trained cell drops
    straight into ``MimoTagger.lm_cell`` (when no table is given, the
    vocab-free hash stand-in — the fixture configs);
  * one LSTM cell (WORD_DIM -> LM_DIM=200) — model.py nhid=200 per
    Stmt_Extraction_Net.py:44-45;
  * linear decoder (LM_DIM -> vocab) for next-word NLL — discarded at
    featurize time exactly like the reference;
  * training — full BPTT through the cell (reusing train_bptt's hand-derived
    LSTM backward), SGD momentum 0.9 / weight decay 5e-4 / global clip 5 (the
    repo-wide recipe, utils.py:2906), batches length-sorted descending.

``load_lm_into(model, path)`` installs the trained cell into a
``use_lm=True`` MimoTagger; BPTTTrainer keeps ``lm_cell`` frozen (its
documented contract), so tagger training then learns the ``w_lm``/``g_lm``
gates over genuinely trained LM features — the lm-config bit of the
reference's ``single_model_load`` (utils.py:2687-2690) exercised end to end.
"""

from __future__ import annotations

import math

import numpy as np

from scikg_spark.core.neural import (
    LM_DIM, WORD_DIM, _LSTMCell, _log_softmax, _table_from_data,
    _table_to_arrays, word_vectors)
from scikg_spark.core.train_bptt import _lstm_bwd, _lstm_fwd, _momentum_step

UNK = "<unk>"


def build_vocab(sentences, max_size: int = 20_000) -> dict[str, int]:
    """Most-frequent ``max_size`` lowercased tokens -> contiguous ids;
    everything else maps to the trailing <unk> id."""
    from collections import Counter

    counts = Counter(w.lower() for s in sentences for w in s)
    vocab = {w: i for i, (w, _) in enumerate(counts.most_common(max_size))}
    vocab[UNK] = len(vocab)
    return vocab


class LanguageModel:
    def __init__(self, vocab: dict[str, int], seed: int = 824,
                 in_dim: int = WORD_DIM, hidden: int = LM_DIM):
        rng = np.random.default_rng(seed)
        self.vocab = dict(vocab)
        V = len(self.vocab)
        self.cell = _LSTMCell(rng, in_dim, hidden)
        self.dec_w = (rng.standard_normal((hidden, V)) * 0.08).astype(np.float32)
        self.dec_b = np.zeros(V, dtype=np.float32)
        self.in_dim, self.hidden = in_dim, hidden
        # frozen input word table (matrix, word2id) or None = hash stand-in;
        # MUST match the table of any tagger this LM cell is installed into
        # (the featurizer runs over the tagger's own word vectors)
        self.word_table = None

    def ids(self, words) -> np.ndarray:
        unk = self.vocab[UNK]
        return np.array([self.vocab.get(w.lower(), unk) for w in words])

    # -- persistence --------------------------------------------------------
    def save(self, path: str) -> None:
        # vocab as a plain unicode array (never dtype=object): checkpoints
        # then load with allow_pickle=False, so a tampered/substituted .npz
        # can't smuggle a pickle payload into load().
        words = sorted(self.vocab, key=self.vocab.get)
        blob = {"lm_cell.w": self.cell.w, "lm_cell.b": self.cell.b,
                "dec_w": self.dec_w, "dec_b": self.dec_b,
                "vocab": np.array(words, dtype=np.str_)}
        if self.word_table is not None:
            blob["wv.matrix"], blob["wv.vocab"] = \
                _table_to_arrays(self.word_table)
        np.savez_compressed(path, **blob)

    @classmethod
    def load(cls, path: str) -> "LanguageModel":
        data = np.load(path, allow_pickle=False)
        vocab = {str(w): i for i, w in enumerate(data["vocab"].tolist())}
        w = data["lm_cell.w"]
        lm = cls(vocab, in_dim=w.shape[0] - data["dec_w"].shape[0],
                 hidden=data["dec_w"].shape[0])
        lm.cell.w = w.astype(np.float32)
        lm.cell.b = data["lm_cell.b"].astype(np.float32)
        lm.dec_w = data["dec_w"].astype(np.float32)
        lm.dec_b = data["dec_b"].astype(np.float32)
        lm.word_table = _table_from_data(data)
        return lm


def load_lm_into(model, path: str):
    """Install a trained LM cell into a ``use_lm=True`` MimoTagger (shape
    checked): its ``_lm_features`` then run on trained weights."""
    data = np.load(path, allow_pickle=False)
    if model.lm_cell is None:
        raise ValueError("model was built with use_lm=False")
    if data["lm_cell.w"].shape != model.lm_cell.w.shape:
        raise ValueError(
            f"LM checkpoint cell shape {data['lm_cell.w'].shape} does not "
            f"match the model's {model.lm_cell.w.shape}")
    table = _table_from_data(data)
    if table is not None:
        # the cell was trained over THIS table's vectors; a tagger feeding
        # it different word vectors would produce garbage LM features
        if model.word_table is None:
            model.word_table = table
        elif (model.word_table[0].shape != table[0].shape
              or model.word_table[0].tobytes() != table[0].tobytes()):
            raise ValueError(
                "LM checkpoint was trained over a different word table than "
                "the model's — set model.word_table to the LM's table")
    elif model.word_table is not None:
        # the symmetric mismatch: a pre-round-4 hash-trained LM checkpoint
        # (no embedded table) installed into a model holding trained word
        # vectors would run the hash-trained cell over vectors it never saw
        # — the same garbage-features failure the branch above guards
        raise ValueError(
            "LM checkpoint carries no word table (hash-trained) but the "
            "model has a trained word_table — retrain the LM over the "
            "table, or clear model.word_table to run the hash path")
    model.lm_cell.w = data["lm_cell.w"].astype(np.float32)
    model.lm_cell.b = data["lm_cell.b"].astype(np.float32)
    return model


def score_nll(lm: LanguageModel, sentences, batch: int = 64):
    """Forward-only per-sentence mean next-word NLL (no grads — the
    inference path for CCNet-style perplexity filtering). Batches are
    length-sorted and masked exactly like the trainer; sentences under two
    tokens have no predictive positions and score NaN.

    Round 6: allocation/traffic trims only, VERIFIED bitwise-equal to the
    round-5 form on the full bench corpus — the batch geometry (64) and the
    full-B step GEMM are FROZEN because OpenBLAS picks different kernels
    for different M and the per-row sums then drift in the last ulp (a
    measured effect on this box), which would change rounded outputs. The
    concat buffer is reused across steps, the decoder gathers the target
    logit BEFORE exponentiating in place (the old _log_softmax call
    materialized a second (N,|V|) array just to gather N entries of it),
    and the per-sentence sum uses bincount (same sequential accumulation
    order as ufunc.at, ~10x less dispatch overhead)."""
    from scikg_spark.core.neural import _sigmoid

    out = [float("nan")] * len(sentences)
    order = sorted(range(len(sentences)),
                   key=lambda i: len(sentences[i]), reverse=True)
    H = lm.hidden
    W, bias = lm.cell.w, lm.cell.b
    for s in range(0, len(order), batch):
        idx = order[s:s + batch]
        chunk = [sentences[i] for i in idx]
        lens = np.array([len(c) for c in chunk])
        B, T = len(chunk), int(lens.max()) if len(lens) else 0
        if T < 2:
            continue
        x = np.zeros((B, T, lm.in_dim), dtype=np.float32)
        y = np.zeros((B, T), dtype=np.int64)
        for bi, c in enumerate(chunk):
            x[bi, :len(c)] = word_vectors(
                c, dim=lm.in_dim, table=lm.word_table)
            y[bi, :len(c)] = lm.ids(c)
        valid = (lens[:, None] - 1) > np.arange(T)[None, :]
        h = np.zeros((B, H), dtype=np.float32)
        c_st = np.zeros((B, H), dtype=np.float32)
        hs = np.zeros((B, T - 1, H), dtype=np.float32)
        xh = np.empty((B, lm.in_dim + H), dtype=np.float32)
        for t in range(T - 1):
            v = valid[:, t:t + 1]
            # same ops as _lstm_fwd, minus the per-step concatenate
            # allocation and the training cache
            xh[:, :lm.in_dim] = x[:, t]
            xh[:, lm.in_dim:] = h
            z = xh @ W + bias
            i_g = _sigmoid(z[:, :H])
            f_g = _sigmoid(z[:, H:2 * H])
            g_g = np.tanh(z[:, 2 * H:3 * H])
            o_g = _sigmoid(z[:, 3 * H:])
            c2 = f_g * c_st + i_g * g_g
            h2 = o_g * np.tanh(c2)
            h = np.where(v, h2, h)
            c_st = np.where(v, c2, c_st)
            hs[:, t] = h
        # decoder batched over all valid positions at once (the recurrence
        # can't batch across time, the |V|-wide decoder — the flop hog —
        # can), in ~1k-row chunks: this box's OpenBLAS runs one huge
        # (N,200)@(200,|V|) gemm ~7x SLOWER than the same flops chunked
        rows, ts = np.nonzero(valid[:, :T - 1])
        if len(rows) == 0:
            continue
        states = hs[rows, ts]
        tgt = y[rows, ts + 1]
        tok_nll = np.empty(len(rows), dtype=np.float64)
        for s0 in range(0, len(rows), 1024):
            sl = slice(s0, s0 + 1024)
            logits = states[sl] @ lm.dec_w + lm.dec_b
            m = logits.max(axis=-1, keepdims=True)
            zc = logits - m
            zt = zc[np.arange(zc.shape[0]), tgt[sl]].copy()
            np.exp(zc, out=zc)
            tok_nll[sl] = -(zt - np.log(zc.sum(axis=-1)))
        nll = np.bincount(rows, weights=tok_nll, minlength=B)
        n_tok = np.bincount(rows, minlength=B)
        for bi, i in enumerate(idx):
            if n_tok[bi] > 0:
                out[i] = float(nll[bi] / n_tok[bi])
    return out


class LMTrainer:
    """Next-word NLL over batches of sentences; full BPTT through the cell.

    Positions: input token t predicts token t+1 (t = 0..n-2); one-token
    sentences contribute nothing. Batches are masked like train_bptt's
    encoder, so a sentence's states never update past its own length.
    """

    def __init__(self, lm: LanguageModel, lr: float = 0.5,
                 weight_decay: float = 5e-4, momentum: float = 0.9,
                 clip: float = 5.0):
        self.lm = lm
        self.lr, self.wd, self.mom, self.clip = lr, weight_decay, momentum, clip
        self.vel = {k: np.zeros_like(v) for k, v in self._params().items()}

    def _params(self) -> dict:
        return {"cell.w": self.lm.cell.w, "cell.b": self.lm.cell.b,
                "dec_w": self.lm.dec_w, "dec_b": self.lm.dec_b}

    def _assign(self, key, value):
        if key.startswith("cell."):
            setattr(self.lm.cell, key.split(".")[1], value)
        else:
            setattr(self.lm, key, value)

    def loss_and_grads(self, sentences):
        lm = self.lm
        dtype = lm.dec_w.dtype  # float32 in training; float64 in gradchecks
        lens = np.array([len(s) for s in sentences])
        B, T = len(sentences), int(lens.max())
        if T < 2:
            return 0.0, 0, {k: np.zeros_like(p) for k, p in self._params().items()}
        x = np.zeros((B, T, lm.in_dim), dtype=dtype)
        y = np.zeros((B, T), dtype=np.int64)
        for bi, s in enumerate(sentences):
            x[bi, :len(s)] = word_vectors(
                s, dim=lm.in_dim, table=lm.word_table).astype(dtype)
            y[bi, :len(s)] = lm.ids(s)

        # predictive positions: t valid iff t+1 < len (targets exist)
        valid = (lens[:, None] - 1) > np.arange(T)[None, :]
        h = np.zeros((B, lm.hidden), dtype=dtype)
        c = np.zeros((B, lm.hidden), dtype=dtype)
        caches: list = [None] * T
        hs = np.zeros((B, T, lm.hidden), dtype=dtype)
        for t in range(T):
            v = valid[:, t:t + 1]
            h2, c2, cc = _lstm_fwd(lm.cell, x[:, t], h, c)
            h = np.where(v, h2, h)
            c = np.where(v, c2, c)
            hs[:, t] = np.where(v, h, 0.0)
            caches[t] = cc

        grads = {k: np.zeros_like(p) for k, p in self._params().items()}
        n_tok = int(valid.sum())
        loss = 0.0
        d_h = np.zeros((B, T, lm.hidden), dtype=dtype)
        for t in range(T - 1):
            rows = np.nonzero(valid[:, t])[0]
            if len(rows) == 0:
                continue
            logits = hs[rows, t] @ lm.dec_w + lm.dec_b
            logp = _log_softmax(logits)
            tgt = y[rows, t + 1]
            loss -= float(logp[np.arange(len(rows)), tgt].sum())
            d = np.exp(logp)
            d[np.arange(len(rows)), tgt] -= 1.0
            d /= n_tok
            grads["dec_w"] += hs[rows, t].T @ d
            grads["dec_b"] += d.sum(axis=0)
            d_h[rows, t] = d @ lm.dec_w.T
        loss /= n_tok

        dh = np.zeros((B, lm.hidden), dtype=dtype)
        dc = np.zeros((B, lm.hidden), dtype=dtype)
        for t in range(T - 1, -1, -1):
            v = valid[:, t:t + 1].astype(dtype)
            dh_tot = dh + d_h[:, t] * v
            _, dhp, dcp = _lstm_bwd(
                lm.cell, dh_tot * v, dc * v, caches[t],
                grads["cell.w"], grads["cell.b"])
            dh = dhp + dh_tot * (1.0 - v)
            dc = dcp + dc * (1.0 - v)
        return float(loss), n_tok, grads

    def step(self, sentences) -> float:
        """One momentum-SGD step on a length-sorted batch; returns the mean
        per-token NLL (perplexity = exp(loss))."""
        order = sorted(range(len(sentences)),
                       key=lambda i: len(sentences[i]), reverse=True)
        loss, n_tok, grads = self.loss_and_grads([sentences[i] for i in order])
        if n_tok == 0:
            return 0.0
        _momentum_step(self, grads)
        return loss

    def perplexity(self, sentences, batch: int = 64) -> float:
        """Mean next-word perplexity (no parameter update)."""
        tot_nll, tot_tok = 0.0, 0
        order = sorted(range(len(sentences)),
                       key=lambda i: len(sentences[i]), reverse=True)
        for s in range(0, len(order), batch):
            chunk = [sentences[i] for i in order[s:s + batch]]
            loss, n_tok, _ = self.loss_and_grads(chunk)
            tot_nll += loss * n_tok
            tot_tok += n_tok
        return math.exp(tot_nll / max(tot_tok, 1))

"""MIMO-style neural tagger: numpy forward pass (M1-M5), broadcast-weight
friendly.

Mirrors the reference architecture's SHAPE (citations into /root/reference):
  * gated multi-input encoder  — word emb + gated projections of POS/CAP/
    POSCAP/LM features into a BiLSTM, hidden 300 per direction
    (Stmt_Extraction_Net.py:72-172; dims :29-53; gates :146-163)
  * custom LSTM decoder with tag-context state and TWO output heads (fact,
    condition), 11 logits each; condition head optionally conditioned on the
    fact softmax ("enhance") (Stmt_Extraction_Net.py:269-366, heads :343-355)
  * LM featurizer — single-layer LSTM producing 200-d contextual features
    (model.py:44-50, applied utils.py:421-447), config-gated like the
    reference's lm/pos/cap model bits (utils.py:2679-2698)
  * ensemble combiner — y = sum_i w_i * distrib_i + b over 3 single models,
    then log-softmax (Stmt_Extraction_Net.py:429-480)

The reference's pretrained blobs are not shipped (README.md:45-51 Dropbox
links), so weights here are seeded fixtures: the tagger is plug-compatible
with real trained weights (same parameter dict), the P/R gate runs on the
gold path, and this module carries the COMPUTE shape for throughput work.
Word vectors use a hashing trick (vocab-free, deterministic per token) in
place of the 50-d word2vec scan (load_pretrained_word_embeddings.py:47-63).

Everything is float32 numpy, vectorized over the batch dimension with a
sequential scan over time — the in-UDF replacement for the reference's
pack_padded_sequence machinery. Statements are processed in length-sorted
micro-batches of ``batch_size`` (default 50 = MIMO_Extractor.py:84) to
minimize padding waste (the reference's O1 sort, MIMO_Extractor.py:71-79).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from scikg_spark.core.tags import (
    CAP_TAG2ID, CAP_TAGS, COND_TAGS, FACT_TAGS, POS_TAG2ID, POS_TAGS)

WORD_DIM = 50      # train.py:81-82
POS_DIM = 6        # ceil(log2(36)), Stmt_Extraction_Net.py:31-36
CAP_DIM = 3        # ceil(log2(7))
LM_DIM = 200       # Stmt_Extraction_Net.py:44-45
# the reference's lm_type switch sizes w_lm for the LM feature source
# (Stmt_Extraction_Net.py:44-50): 200-d trained LSTM ('normal') or frozen
# BERT hidden widths. The BERT weights are Dropbox-only like every blob, so
# only 'normal' has a trained path here — but the encoder accepts all three
# widths so the config surface (and checkpoint shapes) match the reference.
LM_DIMS = {"normal": LM_DIM, "bert-base": 768, "bert-large": 1024}
HIDDEN = 300       # train.py:83
N_TAGS = 11


def _rng_mat(rng, *shape):
    return (rng.standard_normal(shape) * 0.08).astype(np.float32)


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def _log_softmax(x, axis=-1):
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return (x - m) - np.log(e.sum(axis=axis, keepdims=True))


_WV_CACHE: dict = {}
_WV_CACHE_MAX = 200_000  # ~40 MB at dim 50 — bounded per worker


def hash_word_vectors(words, dim=WORD_DIM):
    """Deterministic vocab-free word vectors: seed numpy from md5(word).
    Stand-in for the frozen word2vec matrix (broadcast in production).
    Memoized per (word, dim) — training revisits the same tokens every epoch
    and the md5+RandomState derivation is pure."""
    out = np.empty((len(words), dim), dtype=np.float32)
    for i, w in enumerate(words):
        key = (w.lower(), dim)
        v = _WV_CACHE.get(key)
        if v is None:
            h = int(hashlib.md5(key[0].encode()).hexdigest()[:8], 16)
            rs = np.random.RandomState(h % (2**31 - 1))
            v = rs.standard_normal(dim).astype(np.float32) * 0.3
            if len(_WV_CACHE) < _WV_CACHE_MAX:
                _WV_CACHE[key] = v
        out[i] = v
    return out


def word_vectors(words, dim=WORD_DIM, table=None):
    """Input word vectors: TRAINED-table lookup with deterministic hash
    fallback for out-of-vocabulary words.

    ``table`` is ``(matrix float32 [n, dim], word2id)`` as produced by
    ``word2vec.read_word2vec_bin`` (rows 0/1 are <pad>/<unk>). The reference
    loads a frozen pretrained word2vec matrix and random-initializes words
    missing from it (load_pretrained_word_embeddings.py:47-63); the hash
    fallback is that random-init, made deterministic. ``table=None`` is the
    vocab-free all-hash stand-in (fixture configs)."""
    if table is None:
        return hash_word_vectors(words, dim)
    matrix, word2id = table
    out = np.empty((len(words), dim), dtype=np.float32)
    miss = []
    for i, w in enumerate(words):
        wid = word2id.get(w.lower(), 1)
        if wid > 1:  # 0/1 are the reader's <pad>/<unk> rows
            out[i] = matrix[wid]
        else:
            miss.append(i)
    if miss:
        out[miss] = hash_word_vectors([words[i] for i in miss], dim)
    return out


class _LSTMCell:
    """Plain LSTM cell parameters; step() is batched (B, dim)."""

    def __init__(self, rng, in_dim, hidden):
        self.w = _rng_mat(rng, in_dim + hidden, 4 * hidden)
        self.b = np.zeros(4 * hidden, dtype=np.float32)
        self.hidden = hidden

    def step(self, x, h, c):
        z = np.concatenate([x, h], axis=1) @ self.w + self.b
        H = self.hidden
        i = _sigmoid(z[:, :H])
        f = _sigmoid(z[:, H:2 * H])
        g = np.tanh(z[:, 2 * H:3 * H])
        o = _sigmoid(z[:, 3 * H:])
        c2 = f * c + i * g
        return o * np.tanh(c2), c2


class MimoTagger:
    """Single model (one LM/POS/CAP feature config) or 3-model ensemble."""

    def __init__(self, seed=824, use_lm=False, use_pos=True, use_cap=True,
                 enhance=True, batch_size=50, lm_type="normal"):
        if lm_type not in LM_DIMS:
            raise ValueError(
                f"lm_type {lm_type!r} not in {sorted(LM_DIMS)}")
        rng = np.random.default_rng(seed)
        self.use_lm, self.use_pos, self.use_cap = use_lm, use_pos, use_cap
        self.lm_type, self.lm_dim = lm_type, LM_DIMS[lm_type]
        self.enhance = enhance
        self.batch_size = batch_size
        self.pos_emb = _rng_mat(rng, len(POS_TAGS) + 1, POS_DIM)
        self.cap_emb = _rng_mat(rng, len(CAP_TAGS) + 1, CAP_DIM)
        # gated projections into word space (w_lm analog, Stmt_... :45)
        self.w_pos = _rng_mat(rng, POS_DIM, WORD_DIM)
        self.g_pos = _rng_mat(rng, POS_DIM, WORD_DIM)
        self.w_cap = _rng_mat(rng, CAP_DIM, WORD_DIM)
        self.g_cap = _rng_mat(rng, CAP_DIM, WORD_DIM)
        self.w_lm = _rng_mat(rng, self.lm_dim, WORD_DIM)
        self.g_lm = _rng_mat(rng, self.lm_dim, WORD_DIM)
        # encoder BiLSTM
        self.enc_f = _LSTMCell(rng, WORD_DIM, HIDDEN)
        self.enc_b = _LSTMCell(rng, WORD_DIM, HIDDEN)
        # decoder LSTM with tag-context input (2*HIDDEN enc + 2*N_TAGS tag ctx)
        self.dec = _LSTMCell(rng, 2 * HIDDEN + 2 * N_TAGS, HIDDEN)
        self.head_fact = _rng_mat(rng, HIDDEN, N_TAGS)
        self.head_cond = _rng_mat(rng, HIDDEN + (N_TAGS if enhance else 0), N_TAGS)
        # LM: single-layer LSTM over the word-vector inputs (M1), config-gated
        # 'normal': trainable LSTM over word vectors; bert-*: a frozen
        # feature source would slot in here — the cell stands in at the
        # matching width so shapes/gating are exercised end to end
        self.lm_cell = _LSTMCell(rng, WORD_DIM, self.lm_dim) if use_lm else None
        # frozen pretrained word table (matrix, word2id) or None = hash
        # stand-in; not a BPTT parameter (the reference freezes word2vec),
        # persisted alongside checkpoints so loaded models are self-contained
        self.word_table = None

    # -- featurization ------------------------------------------------------
    def _inputs(self, batch_words, batch_pos, batch_cap, T):
        B = len(batch_words)
        x = np.zeros((B, T, WORD_DIM), dtype=np.float32)
        for bi, (words, pos, cap) in enumerate(zip(batch_words, batch_pos, batch_cap)):
            n = len(words)
            wv = word_vectors(words, table=self.word_table)
            feat = wv
            if self.use_pos:
                pe = self.pos_emb[[POS_TAG2ID.get(p, len(POS_TAGS)) for p in pos]]
                feat = feat + _sigmoid(pe @ self.g_pos) * (pe @ self.w_pos)
            if self.use_cap:
                ce = self.cap_emb[[CAP_TAG2ID.get(c, len(CAP_TAGS)) for c in cap]]
                feat = feat + _sigmoid(ce @ self.g_cap) * (ce @ self.w_cap)
            if self.use_lm:
                lm = self._lm_features(wv)
                feat = feat + _sigmoid(lm @ self.g_lm) * (lm @ self.w_lm)
            x[bi, :n] = feat
        return x

    def _lm_features(self, wv):
        h = np.zeros((1, self.lm_dim), dtype=np.float32)
        c = np.zeros((1, self.lm_dim), dtype=np.float32)
        out = np.empty((len(wv), self.lm_dim), dtype=np.float32)
        for t in range(len(wv)):
            h, c = self.lm_cell.step(wv[t:t + 1], h, c)
            out[t] = h[0]
        return out

    def _encode_bilstm(self, x, lens):
        """Length-masked BiLSTM: padded timesteps never update (h, c), so a
        statement's encoding is independent of its co-batched statements'
        lengths — the numpy equivalent of pack_padded_sequence
        (Stmt_Extraction_Net.py:167-170). Matters for the backward direction,
        where right-padding precedes the valid tokens."""
        B, T = x.shape[0], x.shape[1]
        hf = np.zeros((B, HIDDEN), dtype=np.float32)
        cf = np.zeros((B, HIDDEN), dtype=np.float32)
        hb = np.zeros((B, HIDDEN), dtype=np.float32)
        cb = np.zeros((B, HIDDEN), dtype=np.float32)
        enc_f = np.zeros((B, T, HIDDEN), dtype=np.float32)
        enc_b = np.zeros((B, T, HIDDEN), dtype=np.float32)
        for t in range(T):
            valid_f = (lens > t)[:, None]
            h2, c2 = self.enc_f.step(x[:, t], hf, cf)
            hf = np.where(valid_f, h2, hf)
            cf = np.where(valid_f, c2, cf)
            enc_f[:, t] = np.where(valid_f, hf, 0.0)
            tb = T - 1 - t
            valid_b = (lens > tb)[:, None]
            h2, c2 = self.enc_b.step(x[:, tb], hb, cb)
            hb = np.where(valid_b, h2, hb)
            cb = np.where(valid_b, c2, cb)
            enc_b[:, tb] = np.where(valid_b, hb, 0.0)
        return np.concatenate([enc_f, enc_b], axis=2)

    # -- forward ------------------------------------------------------------
    def _decode(self, batch_words, batch_pos, batch_cap):
        """The decoder loop -> ``(fact_logp, cond_logp, lens, hidden)``;
        ``hidden`` holds the per-step decoder states (B, T, HIDDEN) that the
        head trainers fit their heads over."""
        lens = np.array([len(w) for w in batch_words])
        B, T = len(batch_words), int(lens.max())
        x = self._inputs(batch_words, batch_pos, batch_cap, T)

        enc = self._encode_bilstm(x, lens)

        hd = np.zeros((B, HIDDEN), dtype=np.float32)
        cd = np.zeros((B, HIDDEN), dtype=np.float32)
        prev = np.zeros((B, 2 * N_TAGS), dtype=np.float32)  # tag-context state T
        fact_logp = np.empty((B, T, N_TAGS), dtype=np.float32)
        cond_logp = np.empty((B, T, N_TAGS), dtype=np.float32)
        hidden = np.empty((B, T, HIDDEN), dtype=np.float32)
        for t in range(T):
            hd, cd = self.dec.step(
                np.concatenate([enc[:, t], prev], axis=1), hd, cd)
            hidden[:, t] = hd
            lf = hd @ self.head_fact
            fact_p = _log_softmax(lf)
            if self.enhance:
                lc = np.concatenate([hd, np.exp(fact_p)], axis=1) @ self.head_cond
            else:
                lc = hd @ self.head_cond
            cond_p = _log_softmax(lc)
            fact_logp[:, t] = fact_p
            cond_logp[:, t] = cond_p
            prev = np.concatenate([np.exp(fact_p), np.exp(cond_p)], axis=1)
        return fact_logp, cond_logp, lens, hidden

    def _forward(self, batch_words, batch_pos, batch_cap):
        """-> ``(fact_logp, cond_logp, lens)``."""
        return self._decode(batch_words, batch_pos, batch_cap)[:3]

    predict_distrib = _forward

    def predict_tags(self, batch_words, batch_pos, batch_cap,
                     threshold_fact=None, threshold_cond=None):
        """-> list of (fact_tags, cond_tags) per statement. Processes in
        length-sorted micro-batches (reference O1 + O2). Optional confidence
        thresholds (P7, utils.py:2336-2340): a token's tag collapses to 'O'
        when its max log-probability is below log(threshold)."""
        import math

        log_tf = math.log(threshold_fact) if threshold_fact else None
        log_tc = math.log(threshold_cond) if threshold_cond else None
        order = sorted(range(len(batch_words)),
                       key=lambda i: len(batch_words[i]), reverse=True)
        results: list = [None] * len(batch_words)
        for s in range(0, len(order), self.batch_size):
            idx = order[s:s + self.batch_size]
            fw = [batch_words[i] for i in idx]
            fp = [batch_pos[i] for i in idx]
            fc = [batch_cap[i] for i in idx]
            fact_logp, cond_logp, lens = self._forward(fw, fp, fc)
            f_ids = fact_logp.argmax(axis=2)
            c_ids = cond_logp.argmax(axis=2)
            f_max = fact_logp.max(axis=2)
            c_max = cond_logp.max(axis=2)
            for k, i in enumerate(idx):
                n = lens[k]
                ft = [FACT_TAGS[j] if log_tf is None or f_max[k, t] >= log_tf
                      else "O"
                      for t, j in enumerate(f_ids[k, :n])]
                ct = [COND_TAGS[j] if log_tc is None or c_max[k, t] >= log_tc
                      else "O"
                      for t, j in enumerate(c_ids[k, :n])]
                results[i] = (ft, ct)
        return results


class MimoEnsemble:
    """Single models + the reference's per-tag combiner
    (Stmt_Extraction_Net.py:429-480, wiring MIMO_Extractor.py:131-135):
    y_head = sum_i logp_i * w_head[i] + b_head, then log-softmax — one
    (n_models, N_TAGS) weight matrix and one (N_TAGS,) bias PER HEAD, trained
    by core.train_bptt.EnsembleTrainer over frozen singles exactly like
    train_ensemble.py:1-147.

    Default ``models`` are the reference's 3 single configs (LM / POS / CAP
    bits, utils.py:2679-2698) with fixture weights; pass trained taggers (or
    load a checkpoint via :func:`load_tagger`) for a real ensemble.
    """

    def __init__(self, seed=824, batch_size=50, models=None):
        self.models = models if models is not None else [
            MimoTagger(seed=seed + 1, use_lm=True, use_pos=False, use_cap=False,
                       batch_size=batch_size),
            MimoTagger(seed=seed + 2, use_lm=False, use_pos=True, use_cap=False,
                       batch_size=batch_size),
            MimoTagger(seed=seed + 3, use_lm=False, use_pos=False, use_cap=True,
                       batch_size=batch_size),
        ]
        n = len(self.models)
        rng = np.random.default_rng(seed)
        # fixture init ~ uniform vote; reference inits torch.randn
        self.w_fact = (rng.standard_normal((n, N_TAGS)).astype(np.float32)
                       * 0.05 + 1.0 / n)
        self.b_fact = np.zeros(N_TAGS, dtype=np.float32)
        self.w_cond = (rng.standard_normal((n, N_TAGS)).astype(np.float32)
                       * 0.05 + 1.0 / n)
        self.b_cond = np.zeros(N_TAGS, dtype=np.float32)
        self.batch_size = batch_size

    def combine(self, flps, clps):
        """(fact_logp, cond_logp) from per-model log-prob arrays."""
        yf = sum(lp * self.w_fact[i] for i, lp in enumerate(flps)) + self.b_fact
        yc = sum(lp * self.w_cond[i] for i, lp in enumerate(clps)) + self.b_cond
        return _log_softmax(yf), _log_softmax(yc)

    def predict_tags(self, batch_words, batch_pos, batch_cap):
        order = sorted(range(len(batch_words)),
                       key=lambda i: len(batch_words[i]), reverse=True)
        results: list = [None] * len(batch_words)
        for s in range(0, len(order), self.batch_size):
            idx = order[s:s + self.batch_size]
            fw = [batch_words[i] for i in idx]
            fp = [batch_pos[i] for i in idx]
            fc = [batch_cap[i] for i in idx]
            flps, clps, lens = [], [], None
            for m in self.models:
                f, c, lens = m.predict_distrib(fw, fp, fc)
                flps.append(f)
                clps.append(c)
            fact, cond = self.combine(flps, clps)
            f_ids = fact.argmax(axis=2)
            c_ids = cond.argmax(axis=2)
            for k, i in enumerate(idx):
                n = lens[k]
                results[i] = (
                    [FACT_TAGS[j] for j in f_ids[k, :n]],
                    [COND_TAGS[j] for j in c_ids[k, :n]])
        return results


def _step_heads(owner, vel, feats, ids, weights, lr, wd, mom, clip):
    """One weighted-NLL momentum-SGD step on ``owner``'s two linear heads,
    ``head_fact`` and ``head_cond`` (the reference recipe, utils.py:2938-2955,
    with each head's gradient clipped to ``clip``). ``feats``, ``ids`` and
    ``weights`` are (fact, cond) pairs of token features, per-statement tag
    id lists and class weights (None: uniform); ``vel`` holds each head's
    velocity. Returns (fact_loss, cond_loss)."""
    losses = []
    for name, X, seqs, wts in zip(("head_fact", "head_cond"), feats, ids, weights):
        W = getattr(owner, name)
        y = np.asarray([t for seq in seqs for t in seq])
        if wts is None:
            wts = np.ones(N_TAGS, dtype=np.float32)
        logp = _log_softmax(X @ W)
        n = len(y)
        sw = wts[y]
        denom = max(sw.sum(), 1e-9)
        losses.append(float(-(sw * logp[np.arange(n), y]).sum() / denom))
        d = np.exp(logp)
        d[np.arange(n), y] -= 1.0
        d *= (sw / denom)[:, None]
        g = X.T @ d + wd * W
        gn = np.linalg.norm(g)
        if gn > clip:
            g = g * (clip / gn)
        vel[name] = mom * vel[name] - lr * g
        setattr(owner, name, W + vel[name])
    return tuple(losses)


class HeadTrainer:
    """M6-lite: the reference's weighted-NLL training step (class weights
    1000/freq, SGD lr=0.01 wd=5e-4 momentum=0.9, grad-clip 5 — utils.py:2888-2955,
    train.py:143-157) applied to the output heads as a linear probe over the
    frozen encoder and decoder. Full BPTT through every parameter is
    :class:`scikg_spark.core.train_bptt.BPTTTrainer`; this head-only step is
    the cheap distillation path of ``jobs.train_heads``.
    """

    def __init__(self, model: MimoTagger, lr=0.01, weight_decay=5e-4,
                 momentum=0.9, clip=5.0):
        self.model = model
        self.lr, self.wd, self.mom, self.clip = lr, weight_decay, momentum, clip
        self.vel = {"head_fact": np.zeros_like(model.head_fact),
                    "head_cond": np.zeros_like(model.head_cond)}

    @staticmethod
    def class_weights(tag_counts, n_tags=N_TAGS):
        """w[tag] = 1000 / freq (train.py:143-157); unseen tags get weight 0."""
        w = np.zeros(n_tags, dtype=np.float32)
        for tag_id, count in tag_counts.items():
            if count > 0:
                w[tag_id] = 1000.0 / count
        return w

    def step(self, words, pos, cap, fact_ids, cond_ids,
             w_fact=None, w_cond=None):
        """One weighted-NLL SGD step on both heads. Tag ids are per-token
        lists aligned with words. Returns (fact_loss, cond_loss)."""
        m = self.model
        _, _, lens, hidden = m._decode(words, pos, cap)
        H = np.concatenate([hidden[b, :n] for b, n in enumerate(lens)], axis=0)
        Xc = H
        if m.enhance:
            Xc = np.concatenate([H, np.exp(_log_softmax(H @ m.head_fact))], axis=1)
        return _step_heads(m, self.vel, (H, Xc), (fact_ids, cond_ids),
                           (w_fact, w_cond), self.lr, self.wd, self.mom,
                           self.clip)


def _collect_params(model: MimoTagger) -> dict:
    p = {
        "pos_emb": model.pos_emb, "cap_emb": model.cap_emb,
        "w_pos": model.w_pos, "g_pos": model.g_pos,
        "w_cap": model.w_cap, "g_cap": model.g_cap,
        "w_lm": model.w_lm, "g_lm": model.g_lm,
        "enc_f.w": model.enc_f.w, "enc_f.b": model.enc_f.b,
        "enc_b.w": model.enc_b.w, "enc_b.b": model.enc_b.b,
        "dec.w": model.dec.w, "dec.b": model.dec.b,
        "head_fact": model.head_fact, "head_cond": model.head_cond,
        "flags": np.array([model.use_lm, model.use_pos, model.use_cap,
                           model.enhance], dtype=np.int8),
    }
    if model.lm_cell is not None:
        p["lm_cell.w"] = model.lm_cell.w
        p["lm_cell.b"] = model.lm_cell.b
    return p


def _table_to_arrays(table):
    """(matrix, word2id) -> npz-storable pair (float32 matrix, unicode vocab
    array aligned to matrix rows, <pad>/<unk> included)."""
    matrix, word2id = table
    tokens = [""] * len(matrix)
    for w, i in word2id.items():
        tokens[i] = w
    return matrix.astype(np.float32), np.array(tokens, dtype=np.str_)


def _table_from_data(data):
    if "wv.matrix" not in data:
        return None
    tokens = [str(w) for w in data["wv.vocab"].tolist()]
    return (data["wv.matrix"].astype(np.float32),
            {w: i for i, w in enumerate(tokens)})


def _tagger_from(data, table, prefix: str = "") -> MimoTagger:
    """The MimoTagger stored under ``prefix`` in ``data``, CONFIGURED FROM
    its own saved flags (no silent hybrid models), over the frozen word
    ``table``. Strict parameter walk: every parameter must be present with
    the exact shape."""
    lm, pos, cap, enhance = (bool(int(b)) for b in data[prefix + "flags"].tolist())
    # lm_type rides implicitly in the saved w_lm width (the reference's
    # lm_type switch is likewise a pure shape choice)
    lm_width = int(data[prefix + "w_lm"].shape[0])
    by_width = {v: k for k, v in LM_DIMS.items()}
    if lm_width not in by_width:
        raise ValueError(
            f"checkpoint w_lm width {lm_width} matches no lm_type "
            f"({sorted(LM_DIMS.values())})")
    model = MimoTagger(use_lm=lm, use_pos=pos, use_cap=cap, enhance=enhance,
                       lm_type=by_width[lm_width])
    model.word_table = table
    for key, current in _collect_params(model).items():
        if key == "flags":
            continue
        if prefix + key not in data:
            raise ValueError(f"checkpoint is missing parameter {prefix + key!r}")
        loaded = data[prefix + key]
        if loaded.shape != current.shape:
            raise ValueError(
                f"checkpoint parameter {prefix + key!r} has shape "
                f"{loaded.shape}, model expects {current.shape}")
        obj, attr = model, key
        if "." in key:
            head, attr = key.split(".")
            obj = getattr(model, head)
        setattr(obj, attr, loaded.astype(np.float32))
    return model


class ProbeTagger:
    """Distillation tagger: feature-augmented linear heads over a frozen
    MimoTagger's per-step decoder states. Head input per token = [decoder
    hidden (300) | CAP one-hot | POS one-hot | 3 position scalars (relative
    index, distance to nearest VB*, distance to nearest IN)] — skip
    connections of the same raw features the reference feeds through its
    embeddings (Stmt_Extraction_Net.py:96-137), which let a linear probe
    recover mention-role structure that a frozen, untrained recurrence only
    noisily preserves. ``train_step`` is :class:`HeadTrainer`'s head update
    over these features.
    """

    N_FEAT = HIDDEN + (len(CAP_TAGS) + 1) + (len(POS_TAGS) + 1) + 3

    def __init__(self, base: MimoTagger | None = None, seed: int = 824):
        self.base = base or MimoTagger(seed=seed)
        rng = np.random.default_rng(seed + 7)
        self.head_fact = _rng_mat(rng, self.N_FEAT, N_TAGS)
        self.head_cond = _rng_mat(rng, self.N_FEAT, N_TAGS)
        self.vel = {"head_fact": np.zeros_like(self.head_fact),
                    "head_cond": np.zeros_like(self.head_cond)}

    # -- features -----------------------------------------------------------
    def _features(self, words, pos, cap):
        """-> list of (n_i, N_FEAT) arrays, one per statement."""
        _, _, lens, hidden = self.base._decode(words, pos, cap)
        out = []
        for b, n in enumerate(lens):
            caps_oh = np.zeros((n, len(CAP_TAGS) + 1), dtype=np.float32)
            pos_oh = np.zeros((n, len(POS_TAGS) + 1), dtype=np.float32)
            extra = np.zeros((n, 3), dtype=np.float32)
            vb_idx = [i for i, p in enumerate(pos[b]) if p.startswith("VB")]
            in_idx = [i for i, p in enumerate(pos[b]) if p == "IN"]
            for i in range(n):
                caps_oh[i, CAP_TAG2ID.get(cap[b][i], len(CAP_TAGS))] = 1.0
                pos_oh[i, POS_TAG2ID.get(pos[b][i], len(POS_TAGS))] = 1.0
                extra[i, 0] = i / max(n - 1, 1)
                extra[i, 1] = min((abs(i - v) for v in vb_idx), default=99) / 10.0
                extra[i, 2] = min((abs(i - v) for v in in_idx), default=99) / 10.0
            out.append(np.concatenate(
                [hidden[b, :n], caps_oh, pos_oh, extra], axis=1))
        return out

    # -- predict --------------------------------------------------------------
    def predict_tags(self, batch_words, batch_pos, batch_cap):
        """Length-sorted micro-batches (same discipline as MimoTagger,
        O1/O2): bounds padded-array memory per worker regardless of the Arrow
        chunk size feeding this call."""
        order = sorted(range(len(batch_words)),
                       key=lambda i: len(batch_words[i]), reverse=True)
        results: list = [None] * len(batch_words)
        micro = self.base.batch_size
        for s in range(0, len(order), micro):
            idx = order[s:s + micro]
            feats = self._features(
                [batch_words[i] for i in idx],
                [batch_pos[i] for i in idx],
                [batch_cap[i] for i in idx])
            for k, i in enumerate(idx):
                X = feats[k]
                f_ids = (X @ self.head_fact).argmax(axis=1)
                c_ids = (X @ self.head_cond).argmax(axis=1)
                results[i] = (
                    [FACT_TAGS[j] for j in f_ids],
                    [COND_TAGS[j] for j in c_ids])
        return results

    # -- train ----------------------------------------------------------------
    def train_step(self, words, pos, cap, fact_ids, cond_ids,
                   w_fact=None, w_cond=None, lr=0.3, wd=5e-4, clip=5.0):
        X = np.concatenate(self._features(words, pos, cap), axis=0)
        return _step_heads(self, self.vel, (X, X), (fact_ids, cond_ids),
                           (w_fact, w_cond), lr, wd, 0.9, clip)


# -- checkpoints: one npz layout and one writer/loader for every tagger kind --

_CHECKPOINT_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), "checkpoints")
# the committed trained checkpoint that each model mode defaults to in the
# pipeline and scaling CLIs
DEFAULT_CHECKPOINTS = {
    "neural": os.path.join(_CHECKPOINT_DIR, "bptt_best_single.npz"),
    "ensemble": os.path.join(_CHECKPOINT_DIR, "ensemble_111.npz"),
}
_COMBINER = ("w_fact", "b_fact", "w_cond", "b_cond")


def _checkpoint_kind(path: str) -> str:
    """'ensemble', 'probe' or 'single': the tagger kind that the npz at
    ``path`` holds, read from its own keys. ValueError for any other npz,
    such as a language-model checkpoint."""
    with np.load(path) as data:
        keys = set(data.files)
    for key, kind in (("ens.n_models", "ensemble"),
                      ("probe_head_fact", "probe"), ("flags", "single")):
        if key in keys:
            return kind
    raise ValueError(
        f"{path} is not a tagger checkpoint: it holds none of the keys "
        "'ens.n_models', 'probe_head_fact' or 'flags'")


def save_tagger(model, path: str) -> None:
    """Persist a MimoTagger, MimoEnsemble or ProbeTagger as one npz, the
    rebuild's analog of the reference's .torch state dicts (utils.py:2696):
    a single's parameters and ``flags`` unprefixed; an ensemble's singles
    under ``m{i}.`` and its combiner under ``ens.``; a probe's two heads as
    ``probe_head_*`` over its base's parameters. The frozen word table the
    singles share rides once ("wv.matrix"/"wv.vocab"), so executor-side
    loads are self-contained — no separate .bin to ship."""
    if isinstance(model, MimoEnsemble):
        blob = {f"ens.{k}": getattr(model, k) for k in _COMBINER}
        blob["ens.n_models"] = np.array([len(model.models)])
        singles = {f"m{i}.": m for i, m in enumerate(model.models)}
    elif isinstance(model, ProbeTagger):
        blob = {"probe_head_fact": model.head_fact,
                "probe_head_cond": model.head_cond}
        singles = {"": model.base}
    else:
        blob, singles = {}, {"": model}
    for prefix, m in singles.items():
        blob.update({prefix + k: v for k, v in _collect_params(m).items()})
    table = next((m.word_table for m in singles.values()
                  if m.word_table is not None), None)
    if table is not None:
        blob["wv.matrix"], blob["wv.vocab"] = _table_to_arrays(table)
    np.savez_compressed(path, **blob)


def load_tagger(path: str):
    """-> the MimoTagger, MimoEnsemble or ProbeTagger that a
    :func:`save_tagger` checkpoint holds, of the kind its own keys name;
    every single is configured from its saved flags and gets the stored
    word table. ValueError for an npz that is no tagger checkpoint."""
    kind = _checkpoint_kind(path)
    with np.load(path) as data:
        table = _table_from_data(data)
        if kind == "ensemble":
            n = int(data["ens.n_models"][0])
            ens = MimoEnsemble(
                models=[_tagger_from(data, table, f"m{i}.") for i in range(n)])
            for k in _COMBINER:
                setattr(ens, k, data[f"ens.{k}"].astype(np.float32))
            return ens
        base = _tagger_from(data, table)
        if kind == "single":
            return base
        probe = ProbeTagger(base=base)
        probe.head_fact = data["probe_head_fact"].astype(np.float32)
        probe.head_cond = data["probe_head_cond"].astype(np.float32)
        return probe
